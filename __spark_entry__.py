"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the HTML parse kernel round-trip over sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB-runnable ANSI SQL equivalents; omitted only for the
                 non-SQL-expressible kernel/corpus queries (rows-only check).

Implementation lives in htmlparser_spark/ (kernel: htmlparser_spark/kernel/,
pipeline ops: htmlparser_spark/ops.py, htmlparser_spark/pipeline/).
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from htmlparser_spark import multimodal, ops
from htmlparser_spark.pipeline.job import explode_pages, parse_pages
from htmlparser_spark.synth import synth_charset_pages, synth_pages
from htmlparser_spark.synth_links import synth_link_pages

N_MEDIA = 400  # fixed-size deterministic media table for multimodal queries

SF0001 = "/root/testdata/sf0.001"

N_CORPUS = 300  # fixed-size deterministic synthetic corpus for kernel queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap documents.text into pages, run the full HTML5 tokenizer
    + tree builder + main-content extractor, return per-doc extraction."""
    return ops.parse_roundtrip(spark, SF0001)


# --- kernel queries over the deterministic synthetic corpus (rows-only) ------

def _corpus(spark):
    return synth_pages(spark, N_CORPUS, seed=42, partitions=4)


def _parsed(spark, columns):
    """The kernel stage over the synthetic corpus, pruned to `columns`."""
    return parse_pages(_corpus(spark), columns=columns)


def _nodes(spark):
    """Exploded arena DOM, one row per node of the 60-page corpus."""
    parsed = parse_pages(synth_pages(spark, 60, seed=42, partitions=2),
                         extract=False, columns=["url", "warc_ts", "nodes"])
    return explode_pages(parsed, "nodes")


def _fp(*cols):
    """32-bit md5 fingerprint of a row — summed per group it pins the exact
    multiset of rows (any byte drift in any field changes the sum with
    overwhelming probability), while keeping the oracle a compact VALUES
    table. Fields are encoded unambiguously — NULL as "N|", values as
    "V<len>:<bytes>" — so neither NULL-skipping nor a separator character
    inside a field can make two distinct rows collide (concat_ws would
    allow both)."""
    parts = []
    for c in cols:
        s = c.cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("N|"))
            .otherwise(F.concat(F.lit("V"), F.length(s).cast("string"),
                                F.lit(":"), s)))
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, 8),
                  16, 10).cast("long")


def parse_corpus_extract(spark, sf_dir):
    """Flagship kernel outputs pinned per status: row fingerprints include
    md5(text) and md5(main_text), so BYTE-level drift of the extracted text
    anywhere in the 315-page corpus flips fp_sum and fails the value-hash
    gate (VALUES oracle regenerated by scripts/gen_pinned_oracles.py)."""
    parsed = _parsed(spark, ["url", "status", "title", "text", "main_text",
                             "n_nodes", "n_elements"])
    row_fp = _fp(F.col("url"), F.col("title"), F.md5("text"),
                 F.md5("main_text"), F.col("n_nodes"), F.col("n_elements"))
    return (parsed
            .select("status", F.length("text").alias("text_len"),
                    F.length("main_text").alias("main_len"),
                    row_fp.alias("row_fp"))
            .groupBy("status")
            .agg(F.count("*").alias("n"),
                 F.sum("text_len").alias("sum_text_len"),
                 F.sum("main_len").alias("sum_main_len"),
                 F.sum("row_fp").alias("fp_sum")))


def parse_corpus_status(spark, sf_dir):
    """Status taxonomy of the mixed synthetic corpus: one row per kernel
    status (ok + every deterministic err:* class) with its page count."""
    parsed = _parsed(spark, ["status"])
    return parsed.groupBy("status").agg(F.count("*").alias("n"))


def parse_error_counters(spark, sf_dir):
    """T16 error reporting rolled up corpus-wide: explode each page's
    parse-error counter map and sum per error code (S8)."""
    parsed = _parsed(spark, ["errors"])
    return (parsed.select(F.explode("errors").alias("code", "n"))
            .groupBy("code").agg(F.sum("n").alias("n")))


def parse_spans_explode(spark, sf_dir):
    """Span table (url, node_id, start, end into main_text) pinned per url:
    fp_sum is the summed md5 fingerprint of every exploded span row, so any
    drift in span boundaries or node assignment fails the hash gate."""
    parsed = _parsed(spark, ["url", "spans"])
    spans = (parsed.select("url", F.explode("spans").alias("s"))
             .select("url", "s.node_id", "s.start", "s.end"))
    row_fp = _fp(F.col("url"), F.col("node_id"), F.col("start"), F.col("end"))
    return (spans
            .groupBy("url")
            .agg(F.count("*").alias("n_spans"),
                 F.sum(F.col("end") - F.col("start")).alias("sum_len"),
                 F.sum(row_fp).alias("fp_sum")))


def parse_tokens_explode(spark, sf_dir):
    """Tokenizer-only entry point (Program.cs:8-26 commented harness) exposed
    as a debug tokens table: one row per emitted token."""
    from htmlparser_spark._rowmap import flat_map
    from htmlparser_spark.kernel.api import tokenize
    from htmlparser_spark.kernel.tokenizer import to_wellformed

    def tok_rows(url, html):
        rows = []
        for i, t in enumerate(tokenize(bytes(html))[0]):
            name = t[1] if t[0] in ("start", "end") else ""
            data = t[1] if t[0] in ("chars", "comment") else ""
            # token payloads are UTF-16 code units (may hold lone
            # surrogates) — recombine before they hit Arrow
            rows.append((url, i, t[0], str(name),
                         to_wellformed(str(data)[:64])))
        return rows

    toks = flat_map(synth_pages(spark, 60, seed=42, partitions=2), tok_rows,
                    ["url", "html"], "url string, pos long, token_type "
                    "string, tag string, data_prefix string")
    # pinned per token type: fp_sum fingerprints every (url, pos, type, tag,
    # data_prefix) row, so token-stream drift fails the value-hash gate
    row_fp = _fp(F.col("url"), F.col("pos"), F.col("token_type"),
                 F.col("tag"), F.col("data_prefix"))
    return (toks.groupBy("token_type")
            .agg(F.count("*").alias("n"), F.sum(row_fp).alias("fp_sum")))


def parse_nodes_stats(spark, sf_dir):
    """X1 per-node arena statistics (depth, text/link lengths, descendant
    counts) exploded one row per DOM node, fingerprint-pinned per tag."""
    nodes = _nodes(spark)
    # fp_sum pins the full arena row (parent/kind/tag/depth/text stats) of
    # every node in the 60-page corpus
    row_fp = _fp(F.col("url"), F.col("node_id"), F.col("parent_id"),
                 F.col("kind"), F.col("tag"), F.col("depth"),
                 F.col("text_len"), F.col("subtree_text_len"))
    return (nodes.groupBy("kind")
            .agg(F.count("*").alias("n"),
                 F.sum("text_len").alias("total_text"),
                 F.max("depth").alias("max_depth"),
                 F.sum(row_fp).alias("fp_sum")))


# --- multimodal binary-column queries (deterministic synthetic media table;
# the DuckDB oracle recomputes the metadata arithmetically, so the value-hash
# gate verifies the binary decode round-trip) ---------------------------------

def media_decode(spark, sf_dir):
    """Binary container decode: typed (kind, width/height/duration, ...)
    metadata per blob through the Arrow-batched kernel."""
    return multimodal.media_decode(spark, N_MEDIA)


def media_image_resize(spark, sf_dir):
    """Image resize plumbing: output dims + deterministic pixel digest per
    blob (PIL swap-in point marked in multimodal.py)."""
    return multimodal.image_resize(spark, N_MEDIA)


def media_audio_frames(spark, sf_dir):
    """Audio frame sampling: one row per sampled frame with its offset
    and window digest (ffmpeg swap-in point marked)."""
    return multimodal.audio_frame_sample(spark, N_MEDIA)


def media_video_frames(spark, sf_dir):
    """Video frame sampling: one row per sampled frame (timestamp, frame
    index, digest) through the same Arrow-batched shape."""
    return multimodal.video_frame_sample(spark, 200)


def media_features(spark, sf_dir):
    """Deterministic (md5-of-blob) feature vectors pinned per kind: feat_sum
    goes through exact integer micros (round(x*1e6)) before summing, so the
    aggregate is order-insensitive and bit-exact; fp_sum fingerprints every
    (media_id, kind, micros) row."""
    df = multimodal.media_feature_vector(spark, N_MEDIA)
    feat_sum = F.aggregate("feature", F.lit(0.0), lambda a, v: a + v)
    micros = F.round(feat_sum * 1e6, 0).cast("long")
    per_row = df.select("kind", micros.alias("micros"),
                        _fp(F.col("media_id"), F.col("kind"),
                            micros).alias("row_fp"))
    return (per_row.groupBy("kind")
            .agg(F.count("*").alias("n"),
                 F.sum("micros").alias("sum_micros"),
                 F.sum("row_fp").alias("fp_sum")))


def spans_cover_main_text(spark, sf_dir):
    """X3 invariant, driver-checked: the span list must tile main_text
    exactly — spans[0].start == 0, each start == previous end, final end ==
    the UTF-16 CODE-UNIT length of main_text (0 for empty span lists).
    Span offsets are code-unit offsets (C# string semantics,
    SURVEY §1.1), while the emitted main_text is the recombined
    well-formed string where an astral char is ONE codepoint but TWO code
    units — so the expected final end is length + count(astral chars).
    One fold over the spans array per document; the oracle pins the
    violation count at 0."""
    parsed = _parsed(spark, ["main_text", "spans"])
    acc = F.aggregate(
        "spans",
        F.struct(F.lit(0).alias("pe"), F.lit(0).alias("bad")),
        lambda a, s: F.struct(
            s["end"].alias("pe"),
            (a["bad"] + F.when(s["start"] != a["pe"], 1).otherwise(0))
            .alias("bad")))
    utf16_len = (F.length("main_text")
                 + F.regexp_count("main_text",
                                  F.lit(r"[\x{10000}-\x{10FFFF}]")))
    viol = F.when((acc["bad"] != 0) | (acc["pe"] != utf16_len), 1).otherwise(0)
    return parsed.agg(F.sum(viol).cast("long").alias("n_violations"))


N_PDFS = 200


def media_pdf_text(spark, sf_dir):
    """PDF/layout parse (north-rule tier): binary PDF-stand-in blobs decoded
    to per-page text rows; the oracle recomputes the md5-derived page text
    in SQL, so the hash gate verifies the byte-level parse round-trip."""
    return multimodal.pdf_text_extract(spark, N_PDFS)


N_WARC = 200


def warc_roundtrip(spark, sf_dir):
    """WARC source round trip, fingerprint-pinned: the deterministic
    200-page segment (seed 42) is written as a gzipped WARC to a
    process-temp dir, read back through the binaryFile record splitter
    (`htmlparser_spark/sources/warc.py`), and pinned by per-bucket
    aggregates of (url, unix_ts, md5(html)) row fingerprints — byte drift
    anywhere in the container encode/decode flips fp_sum (VALUES oracle
    regenerated by scripts/gen_pinned_oracles.py)."""
    import tempfile

    from htmlparser_spark.sources import read_warc, synth_warc

    d = tempfile.mkdtemp(prefix="warc-oracle-")
    path = os.path.join(d, "seg-00000.warc.gz")
    synth_warc(path, N_WARC, seed=42, compress=True)
    df = read_warc(spark, path)
    row_fp = _fp(F.col("url"), F.unix_timestamp("warc_ts"), F.md5("html"))
    return (df.select(F.pmod(F.xxhash64("url"), F.lit(16)).alias("bucket"),
                      F.length("html").alias("nbytes"),
                      row_fp.alias("row_fp"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.sum("nbytes").alias("sum_bytes"),
                 F.sum("row_fp").alias("fp_sum")))


N_CDX = 400  # synthetic capture records in the cdx_fetch_plan index


def cdx_fetch_plan(spark, sf_dir):
    """Index-first fetch planning — the step a 100 TB extraction job runs
    BEFORE touching any WARC bytes: read the crawl's CDX-J URL index
    (sources/cdx.py, ~3 orders of magnitude smaller than the WARC data),
    keep only the captures worth parsing (status 200, mime text/html),
    and roll the keepers up per WARC segment file into the fetch plan
    (record count, byte volume, offset range). fp_sum fingerprints every
    kept capture row (surt key, timestamp, url, digest, offset), so index
    parse drift or filter drift fails the value-hash gate. Scale shape:
    one index shard per task via binaryFile, map-side filter, |segments|
    output rows through one small exchange."""
    import tempfile

    from htmlparser_spark.sources import read_cdx, synth_cdx

    d = tempfile.mkdtemp(prefix="cdx-oracle-")
    path = os.path.join(d, "cdx-00000.gz")
    synth_cdx(path, N_CDX, seed=42, compress=True)
    df = read_cdx(spark, path)
    keep = df.filter((F.col("status") == 200)
                     & (F.col("mime") == "text/html"))
    row_fp = _fp(F.col("surt_key"), F.unix_timestamp("ts"), F.col("url"),
                 F.col("digest"), F.col("offset"))
    return (keep.select("filename", "length", row_fp.alias("row_fp"))
            .groupBy("filename")
            .agg(F.count("*").alias("n_fetch"),
                 F.sum("length").alias("sum_bytes"),
                 F.sum("row_fp").alias("fp_sum")))


N_RANGED = 120  # pages across the member-gzip segments in cdx_ranged_fetch


def cdx_ranged_fetch(spark, sf_dir):
    """The full Common-Crawl ingest chain, end to end: pages are written
    as member-gzip WARC segments (each record its own gzip member — the
    real CC layout), the CDX index is built from the WRITER'S OWN capture
    manifest (true byte offsets/lengths), the fetch plan filters it
    (here: even-index captures, standing in for the status/mime gate),
    and read_warc_ranged executes the plan by seeking exactly the planned
    byte ranges — unplanned records are never read or decompressed.
    fp_sum over (url, md5(html)) of the FETCHED pages pins that ranged
    decode reproduces the original bytes. Scale shape: only the tiny plan
    shuffles (repartitioned by segment filename); page bytes move disk →
    task once, and only for planned captures."""
    import hashlib
    import tempfile

    from htmlparser_spark.sources import (
        read_cdx, read_warc_ranged, write_cdx, write_warc_members)
    from htmlparser_spark.synth import gen_rows

    d = tempfile.mkdtemp(prefix="cdx-ranged-")
    rows = [(u, ts, html) for u, ts, html, _t_, _l_
            in gen_rows(42, range(N_RANGED))]
    captures = []
    for seg in range(3):
        seg_name = f"seg-{seg:05d}.warc.gz"
        part = rows[seg::3]
        manifest = write_warc_members(os.path.join(d, seg_name), part)
        for i, (url, ts, off, length) in enumerate(manifest):
            captures.append((
                url, ts, 200,
                "text/html" if i % 2 == 0 else "application/pdf",
                hashlib.md5(part[i][2]).hexdigest()[:16].upper(),
                length, off, seg_name))
    write_cdx(os.path.join(d, "cdx-00000.gz"), captures)
    idx = read_cdx(spark, os.path.join(d, "cdx-00000.gz"))
    plan = idx.filter((F.col("status") == 200)
                      & (F.col("mime") == "text/html"))
    pages = read_warc_ranged(spark, d, plan)
    row_fp = _fp(F.col("url"), F.md5("html"))
    return (pages
            .select(F.pmod(F.xxhash64("url"), F.lit(8)).alias("bucket"),
                    F.length("html").alias("nbytes"),
                    row_fp.alias("row_fp"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.sum("nbytes").alias("sum_bytes"),
                 F.sum("row_fp").alias("fp_sum")))


def corpus_surt_keys(spark, sf_dir):
    """SURT canonical keys (the CDX index's sort scheme: host labels
    reversed and comma-joined + ')' + lowercased path?query) computed for
    the corpus as pure codegen expressions — what a pipeline emits when it
    WRITES an index of its own output. The deterministic messy-URL
    synthesis exercises host-case folding, path lowercasing, and query
    lowercasing. Map-only: parse_url + split + reverse + array_join, no
    join, no shuffle; mirrors sources/cdx.py:surt_key (unit-tested against
    it)."""
    d = ops._t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.com/Page/"),
        (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 9 == 0, "?Q=Abc").otherwise(""))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    key = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.parse_url(url, F.lit("PATH")))
    query = F.parse_url(url, F.lit("QUERY"))
    surt = F.concat(
        key, F.lit(")"), path,
        F.coalesce(F.concat(F.lit("?"), F.lower(query)), F.lit("")))
    return d.select("doc_id", url.alias("url"), surt.alias("surt"))


def jsonl_roundtrip(spark, sf_dir):
    """Training-shard delivery format: pages → deterministic JSONL.gz
    shards (one per task, executor-direct, base64 binary, ISO timestamps)
    → read back. fp_sum over md5 row fingerprints pins the typed round
    trip byte-for-byte (VALUES oracle via scripts/gen_pinned_oracles.py)."""
    import tempfile

    from htmlparser_spark.sources import read_jsonl, write_jsonl
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
        TimestampType)

    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("n_bytes", LongType()),
    ])
    d = tempfile.mkdtemp(prefix="jsonl-oracle-")
    pages = (synth_pages(spark, 80, seed=42, partitions=3)
             .select("url", "warc_ts", "html",
                     F.length("html").cast("long").alias("n_bytes")))
    write_jsonl(pages, d)
    df = read_jsonl(spark, os.path.join(d, "*.jsonl.gz"), schema)
    row_fp = _fp(F.col("url"), F.unix_timestamp("warc_ts"), F.md5("html"),
                 F.col("n_bytes"))
    return (df.select(F.pmod(F.xxhash64("url"), F.lit(8)).alias("bucket"),
                      F.col("n_bytes"), row_fp.alias("row_fp"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.sum("n_bytes").alias("sum_bytes"),
                 F.sum("row_fp").alias("fp_sum")))


def nodes_stats_consistency(spark, sf_dir):
    """X1 invariant check, SQL-checkable: the kernel's bottom-up subtree
    text_len must equal parent-chain aggregation over the exploded nodes
    table (computed here with a Spark self-join; the DuckDB oracle just
    pins the violation count at 0 rows of violations => n_violations=0)."""
    import pyarrow as pa

    nodes = _nodes(spark)

    def check(table):
        parent, direct, expect = (
            dict(zip(table.column("node_id").to_pylist(),
                     table.column(c).to_pylist()))
            for c in ("parent_id", "text_len", "subtree_text_len"))
        totals = {nid: 0 for nid in parent}
        for nid, d in direct.items():  # propagate up every parent chain
            cur = nid
            while cur is not None and cur >= 0:
                totals[cur] += int(d)
                cur = parent.get(cur)
        bad = sum(1 for nid in parent if totals[nid] != expect[nid])
        return pa.table({"n_violations": [bad]})

    per_page = (nodes.groupBy("url", "warc_ts")
                .applyInArrow(check, schema="n_violations long"))
    return per_page.agg(F.sum("n_violations").alias("n_violations"))


# --- web-graph queries (kernel/links.py over the deterministic link corpus;
#     pinned VALUES oracles regenerated by scripts/gen_pinned_oracles.py) ----

N_LINK_CORPUS = 240  # fixed-size deterministic link corpus (synth_links.py)
# the page-meta table's kernel columns (n_links follows them)
PAGE_META_COLS = ["url", "warc_ts", "lang", "status", "base_href",
                  "canonical", "robots_noindex", "robots_nofollow",
                  "meta_description"]


def _link_pages(spark, columns):
    """The kernel stage over the link corpus, web-graph walk on, main-content
    extraction off."""
    pages = synth_link_pages(spark, N_LINK_CORPUS, seed=42, partitions=4)
    return parse_pages(pages, extract=False, columns=columns)


def _links(spark):
    """One row per outlink (LINKS_SCHEMA)."""
    return explode_pages(_link_pages(spark, ["url", "warc_ts", "links"]),
                         "links")


def _page_meta(spark):
    """One row per page: its indexing metadata and outlink count."""
    return (_link_pages(spark, PAGE_META_COLS + ["links"])
            .select(*PAGE_META_COLS,
                    F.size("links").cast("long").alias("n_links")))


def parse_links_explode(spark, sf_dir):
    """Outlink table (one row per <a href>, RFC 3986-resolved against the
    effective base) pinned per destination host: fp_sum fingerprints every
    link row including md5(anchor_text), so any drift in href resolution,
    host extraction, rel=nofollow parsing, or the bounded anchor-text walk
    fails the value-hash gate."""
    links = _links(spark)
    row_fp = _fp(F.col("url"), F.col("seq"), F.col("href"),
                 F.col("href_abs"), F.col("dst_host"), F.md5("anchor"),
                 F.col("nofollow"))
    return (links
            .select("dst_host", "url",
                    F.col("nofollow").cast("long").alias("nf"),
                    row_fp.alias("row_fp"))
            .groupBy("dst_host")
            .agg(F.count("*").alias("n_links"),
                 F.sum("nf").alias("n_nofollow"),
                 F.countDistinct("url").alias("n_src_pages"),
                 F.sum("row_fp").alias("fp_sum")))


def parse_page_meta(spark, sf_dir):
    """Per-page indexing metadata (<base>, <meta robots>, canonical,
    description) pinned by robots-directive group."""
    meta = _page_meta(spark)
    row_fp = _fp(F.col("url"), F.col("status"), F.col("base_href"),
                 F.col("canonical"), F.col("robots_noindex"),
                 F.col("robots_nofollow"), F.md5("meta_description"),
                 F.col("n_links"))
    return (meta
            .select("robots_noindex", "robots_nofollow", "n_links",
                    (F.col("canonical") != "").cast("long").alias("has_canon"),
                    (F.col("base_href") != "").cast("long").alias("has_base"),
                    row_fp.alias("row_fp"))
            .groupBy("robots_noindex", "robots_nofollow")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("has_canon").alias("n_canonical"),
                 F.sum("has_base").alias("n_base"),
                 F.sum("n_links").alias("sum_links"),
                 F.sum("row_fp").alias("fp_sum")))


def _host_edges(links):
    """(src_host, dst_host) pairs a crawler's rank pass would keep:
    http(s) targets only, nofollow dropped. src_host comes from the page
    url JVM-side (parse_url) — the kernel never sees it."""
    return (links
            .filter((F.col("dst_host") != "") & ~F.col("nofollow"))
            .select(F.lower(F.parse_url("url", F.lit("HOST"))).alias("src"),
                    F.col("dst_host").alias("dst")))


def link_host_graph(spark, sf_dir):
    """Host-level web graph derived from the parsed DOM, rolled up per
    source host; fp_sum pins the exact (src, dst, weight) edge multiset.
    Scale shape: one hashpartitioning exchange on (src, dst) with partial
    counts below it (a hub pair collapses map-side), then a per-src rollup."""
    edges = (_host_edges(_links(spark))
             .groupBy("src", "dst").agg(F.count("*").alias("n")))
    row_fp = _fp(F.col("src"), F.col("dst"), F.col("n"))
    return (edges.select("src", "n", row_fp.alias("row_fp"))
            .groupBy("src")
            .agg(F.sum("n").alias("n_links"),
                 F.count("*").alias("n_dst_hosts"),
                 F.sum("row_fp").alias("fp_sum")))


def link_pagerank(spark, sf_dir):
    """PageRank over the KERNEL-DERIVED host graph (host_pagerank runs the
    same integer fixed-point iteration over a synthetic graph with a full
    SQL-mirror oracle; this one pins the end-to-end parse → resolve →
    dedup-edges → rank chain). Self-loops dropped, edges deduplicated —
    the standard simple-graph PageRank preconditioning."""
    edges = (_host_edges(_links(spark))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    hosts = (edges.select(F.col("src").alias("host"))
             .union(edges.select(F.col("dst").alias("host")))
             .distinct())
    r = ops.pagerank_fixed_point(hosts, edges)
    return r.select("host", F.col("rank_fp").alias("rank_e12"))


def link_anchor_targets(spark, sf_dir):
    """Incoming anchor-text signal: for each destination host, the top-3
    anchor tokens pointing at it (the query-independent relevance signal
    search and training-data pipelines both aggregate). Scale shape:
    partial counts collapse below the (dst_host, token) exchange, and the
    per-host top-k runs as a WindowGroupLimit (map-side rank pushdown) —
    never a global sort."""
    links = _links(spark).filter(F.col("dst_host") != "")
    toks = (links
            .select("dst_host", F.explode(F.split(F.lower("anchor"),
                                                  r"\s+")).alias("tok"))
            .filter(F.length("tok") >= 3))
    counts = (toks.groupBy("dst_host", "tok")
              .agg(F.count("*").alias("n")))
    from pyspark.sql import Window
    w = Window.partitionBy("dst_host").orderBy(F.col("n").desc(), "tok")
    top = (counts.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= 3).drop("_rk"))
    row_fp = _fp(F.col("dst_host"), F.col("tok"), F.col("n"))
    return (top.groupBy("dst_host")
            .agg(F.count("*").alias("n_terms"),
                 F.sum("n").alias("sum_n"),
                 F.sum(row_fp).alias("fp_sum")))


def link_reciprocity(spark, sf_dir):
    """Link-spam signal: per source host, the fraction of its distinct
    out-edges that are reciprocated (the destination links back) —
    nepotistic link exchanges push this toward 1 while organic linking
    stays low; the classic precondition feature for TrustRank-style
    demotion. Runs on the same deduped simple graph link_pagerank ranks.

    Scale shape: the edge set self-joins on the REVERSED key — a plain
    equi-join on (src, dst), shuffle = |edges| rows per side (never
    |hosts|²), partial counts below the per-src rollup exchange."""
    edges = (_host_edges(_links(spark))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    rev = (edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
           .withColumn("recip", F.lit(1)))
    marked = edges.join(rev, ["src", "dst"], "left")
    return (marked.groupBy("src")
            .agg(F.count("*").alias("n_out"),
                 F.sum(F.coalesce(F.col("recip"), F.lit(0)))
                 .alias("n_recip"),
                 F.round(F.sum(F.coalesce(F.col("recip"), F.lit(0)))
                         / F.count("*"), 4).alias("recip_ratio")))


def corpus_snapshot_churn(spark, sf_dir):
    """Recrawl analytics over the multi-snapshot corpus (~5% of urls carry
    a later snapshot): per url the snapshot count, distinct-content count,
    and time span — rolled up by snapshot count. The signal a crawl
    scheduler tunes refresh rates with. Map-side partial aggregation on
    url; the raw html never shuffles (content is hashed JVM-side first)."""
    pages = _corpus(spark).select(
        "url", "warc_ts", F.xxhash64("html").alias("content_hash"))
    per_url = (pages.groupBy("url")
               .agg(F.count("*").alias("n_snaps"),
                    F.countDistinct("content_hash").alias("n_contents"),
                    F.unix_timestamp(F.max("warc_ts")).alias("last_ts"),
                    F.unix_timestamp(F.min("warc_ts")).alias("first_ts")))
    row_fp = _fp(F.col("url"), F.col("n_snaps"), F.col("n_contents"),
                 F.col("first_ts"), F.col("last_ts"))
    return (per_url
            .select("n_snaps",
                    (F.col("n_contents") > 1).cast("long").alias("changed"),
                    (F.col("last_ts") - F.col("first_ts")).alias("span"),
                    row_fp.alias("row_fp"))
            .groupBy("n_snaps")
            .agg(F.count("*").alias("n_urls"),
                 F.sum("changed").alias("n_changed"),
                 F.sum("span").alias("sum_span_sec"),
                 F.sum("row_fp").alias("fp_sum")))


def corpus_rank_weighted_sample(spark, sf_dir):
    """Graph signal feeding curation: sample pages with probability
    proportional to their HOST's PageRank (the composition CC-style
    pipelines run — rank the host graph, then keep more from reputable
    hosts). The keep decision is a deterministic integer compare —
    pmod(xxhash64(url), 1e6) < (rank * 1e6) div max_rank — so re-runs and
    resume keep identical pages. Scale shape: the rank table is |hosts|
    rows and BROADCASTS onto a map-only corpus pass (one join, no corpus
    shuffle); max_rank is a 1-row broadcast."""
    ranks = link_pagerank(spark, sf_dir)
    mx = ranks.agg(F.max("rank_e12").alias("mx"))
    thresh = (ranks.crossJoin(F.broadcast(mx))
              .select(F.col("host"),
                      F.expr("(rank_e12 * 1000000) div mx").alias("t")))
    pages = (synth_link_pages(spark, N_LINK_CORPUS, seed=42, partitions=4)
             .select("url",
                     F.lower(F.parse_url("url", F.lit("HOST")))
                     .alias("host")))
    joined = pages.join(F.broadcast(thresh), "host", "left")
    keep = (F.pmod(F.xxhash64("url"), F.lit(1000000))
            < F.coalesce(F.col("t"), F.lit(0)))
    labeled = joined.select(
        "host", F.col("t").alias("threshold"),
        keep.cast("long").alias("kept"),
        F.when(keep, _fp(F.col("url"))).otherwise(F.lit(0)).alias("row_fp"))
    return (labeled.groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("kept").alias("n_kept"),
                 F.min("threshold").alias("threshold"),
                 F.sum("row_fp").alias("fp_sum")))


def corpus_noindex_filter(spark, sf_dir):
    """The crawl-side keep gate every index/training pipeline runs before
    content filters: drop pages whose <meta robots> says noindex and pages
    whose canonical link points elsewhere (the canonical copy will be kept
    under its own url). Map-only over the meta table — no corpus shuffle;
    the per-(lang, verdict) rollup pins kept AND dropped urls via fp_sum."""
    meta = _link_pages(spark, ["url", "lang", "robots_noindex", "canonical"])
    verdict = (F.when(F.col("robots_noindex"), F.lit("drop:noindex"))
               .when((F.col("canonical") != "") &
                     (F.col("canonical") != F.col("url")),
                     F.lit("drop:canonical-elsewhere"))
               .otherwise(F.lit("keep")))
    labeled = meta.select(
        "lang", verdict.alias("verdict"), _fp(F.col("url")).alias("row_fp"))
    return (labeled.groupBy("lang", "verdict")
            .agg(F.count("*").alias("n"), F.sum("row_fp").alias("fp_sum")))


N_CHARSET_CORPUS = 200  # fixed-size deterministic mixed-encoding corpus


def corpus_charset_sniff(spark, sf_dir):
    """The ingest decode stage a real web corpus needs BEFORE the parse
    kernel: sniff each page's character encoding (WHATWG prescan shape —
    BOM, then <meta charset> with label normalization, then default; pure
    codegen, zero Python) and decode the bytes charset-aware. The rollup
    pins per-(encoding, method) page counts AND an fp_sum over
    (url, encoding, method, md5(decoded text)) — so a drift in either the
    sniff decision or one byte of any page's transcoded text fails the
    value-hash gate. The kernel's own UTF-8-replacement decode stays
    untouched (reference parity, Program.cs:3); run_pipeline(transcode=
    True) feeds it valid UTF-8 for the non-UTF-8 minority."""
    from htmlparser_spark.sources.charset import decoded_text
    pages = synth_charset_pages(spark, N_CHARSET_CORPUS, seed=42,
                                partitions=4)
    d = decoded_text(pages)
    row_fp = _fp(F.col("url"), F.col("encoding"), F.col("method"),
                 F.md5("text_u"))
    return (d.select("encoding", "method",
                     F.length("text_u").alias("n_chars"),
                     row_fp.alias("row_fp"))
            .groupBy("encoding", "method")
            .agg(F.count("*").alias("n"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.sum("row_fp").alias("fp_sum")))


def embedding_pq_recall_trained(spark, sf_dir):
    """Recall@10 of the ADC scan with the TRAINED per-subspace-k-means PQ
    codebook (ops._pq_codebook_trained, round 5), measured on queries
    OUTSIDE the training window (q_lo=200 — at q_lo=0 the queries ARE
    stand-in codebook entries with exact ADC distances, biasing the
    compare). All-integer training and distances, so the DuckDB oracle
    replays the two Lloyd rounds bit-identically (_PQ_TRAIN_CTE)."""
    return ops.embedding_pq_recall(spark, sf_dir, k=10, n_queries=30,
                                   q_lo=200, trained=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate: the driver's oracle gate checks the FIRST 50
    # entries each round. Round 5 leads stalest-first: the 49 queries whose
    # last driver CORRECTNESS row is from r1-r3 (r3's WARC/CDX/charset/links
    # and kernel parse set, then r1's relational/TPC-H/dedup/ANN/media rows),
    # plus the round-5 addition embedding_pq_recall_trained to round out 50
    # (dedup_bloom, hash-green in r4, yielded its slot to it). The tail is
    # everything hash-green in round 4 (`scripts/plan_rotation.py`
    # recomputes this from the accumulated CORRECTNESS_r*.json files).
    return {
        # --- head-50 (driver oracle gate): stalest-first rotation for round 5.
        # Every query has >=1 green driver row after r4; this head re-certifies
        # the 49 rows last checked in r1-r3 (r3 WARC/CDX/links/kernel set, then
        # r1 relational/TPC-H/dedup/ANN/media rows) + parse_roundtrip-adjacent
        # basics, per scripts/plan_rotation.py. ---
        "warc_roundtrip": warc_roundtrip,
        "jsonl_roundtrip": jsonl_roundtrip,
        "cdx_fetch_plan": cdx_fetch_plan,
        "cdx_ranged_fetch": cdx_ranged_fetch,
        "corpus_surt_keys": corpus_surt_keys,
        "corpus_charset_sniff": corpus_charset_sniff,
        "parse_corpus_extract": parse_corpus_extract,
        "parse_corpus_status": parse_corpus_status,
        "parse_error_counters": parse_error_counters,
        "parse_spans_explode": parse_spans_explode,
        "parse_nodes_stats": parse_nodes_stats,
        "parse_tokens_explode": parse_tokens_explode,
        "nodes_stats_consistency": nodes_stats_consistency,
        "spans_cover_main_text": spans_cover_main_text,
        "parse_links_explode": parse_links_explode,
        "parse_page_meta": parse_page_meta,
        "link_host_graph": link_host_graph,
        "link_pagerank": link_pagerank,
        "corpus_noindex_filter": corpus_noindex_filter,
        "link_anchor_targets": link_anchor_targets,
        "link_reciprocity": link_reciprocity,
        "corpus_snapshot_churn": corpus_snapshot_churn,
        "corpus_rank_weighted_sample": corpus_rank_weighted_sample,
        "filter_project": ops.filter_project,
        "window_dedup_latest": ops.window_dedup_latest,
        "explode_tokens": ops.explode_tokens,
        "agg_counters": ops.agg_counters,
        "events_sessionize": ops.events_sessionize,
        "asof_join_latest_order": ops.asof_join_latest_order,
        "events_value_quantiles": ops.events_value_quantiles,
        "token_heavy_hitters": ops.token_heavy_hitters,
        "q1_pricing_summary": ops.q1_pricing_summary,
        "q3_revenue_by_order": ops.q3_revenue_by_order,
        "join_broadcast_dims": ops.join_broadcast_dims,
        "part_brand_revenue": ops.part_brand_revenue,
        "supplier_nation_rank": ops.supplier_nation_rank,
        "dedup_exact": ops.dedup_exact,
        "dedup_ngram_jaccard": ops.dedup_ngram_jaccard,
        "dedup_minhash_lsh": ops.dedup_minhash_lsh,
        "dedup_simhash": ops.dedup_simhash,
        "dedup_lsh_eval": ops.dedup_lsh_eval,
        "dedup_embedding_cosine": ops.dedup_embedding_cosine,
        "embedding_topk": ops.embedding_topk,
        "embedding_ann_lsh": ops.embedding_ann_lsh,
        "embedding_ann_ivf": ops.embedding_ann_ivf,
        "embedding_ann_recall": ops.embedding_ann_recall,
        "embedding_ann_probe_sweep": ops.embedding_ann_probe_sweep,
        "media_decode": media_decode,
        "media_image_resize": media_image_resize,
        # new in round 5 (trained PQ codebook) — in the head so it gets a
        # driver row immediately; dedup_bloom (green r4) yields its slot
        "embedding_pq_recall_trained": embedding_pq_recall_trained,
        # --- tail: all hash-green in round 4 (beyond the 50-query driver cap) ---
        "dedup_bloom": ops.dedup_bloom,
        "dedup_cluster_cc": ops.dedup_cluster_cc,
        "dedup_incremental": ops.dedup_incremental,
        "dedup_semantic_cc": ops.dedup_semantic_cc,
        "text_line_dedup": ops.text_line_dedup,
        "text_lm_perplexity": ops.text_lm_perplexity,
        "corpus_ppl_buckets": ops.corpus_ppl_buckets,
        "host_pagerank": ops.host_pagerank,
        "text_gopher_rules": ops.text_gopher_rules,
        "corpus_robots_filter": ops.corpus_robots_filter,
        "corpus_curation_pipeline": ops.corpus_curation_pipeline,
        "corpus_url_filter": ops.corpus_url_filter,
        "text_quality_classifier": ops.text_quality_classifier,
        "text_dsir_weights": ops.text_dsir_weights,
        "corpus_mix_temperature": ops.corpus_mix_temperature,
        "text_span_scrub": ops.text_span_scrub,
        "corpus_url_dedup": ops.corpus_url_dedup,
        "corpus_datasheet": ops.corpus_datasheet,
        "text_pii_scrub": ops.text_pii_scrub,
        "text_repetition": ops.text_repetition,
        "text_tfidf_top_terms": ops.text_tfidf_top_terms,
        "corpus_host_cap": ops.corpus_host_cap,
        "corpus_decontaminate": ops.corpus_decontaminate,
        "corpus_stratified_sample": ops.corpus_stratified_sample,
        "corpus_train_test_split": ops.corpus_train_test_split,
        "corpus_pack_sequences": ops.corpus_pack_sequences,
        "embedding_ivf_cell_stats": ops.embedding_ivf_cell_stats,
        "dedup_embedding_cosine_balanced": ops.dedup_embedding_cosine_balanced,
        "embedding_kmeans": ops.embedding_kmeans,
        "corpus_prototype_prune": ops.corpus_prototype_prune,
        "embedding_pq_encode": ops.embedding_pq_encode,
        "embedding_pq_topk": ops.embedding_pq_topk,
        "embedding_pq_recall": ops.embedding_pq_recall,
        "embedding_ann_ivfpq": ops.embedding_ann_ivfpq,
        "embedding_ann_ivfpq_recall": ops.embedding_ann_ivfpq_recall,
        "dedup_cluster_keep_best": ops.dedup_cluster_keep_best,
        "events_range_join": ops.events_range_join,
        "corpus_distinct_kmv": ops.corpus_distinct_kmv,
        "corpus_badwords_filter": ops.corpus_badwords_filter,
        "media_audio_frames": media_audio_frames,
        "media_video_frames": media_video_frames,
        "media_features": media_features,
        "media_pdf_text": media_pdf_text,
        "text_token_count": ops.text_token_count,
        "text_quality": ops.text_quality,
        "text_lang_id": ops.text_lang_id,
        "text_fingerprint": ops.text_fingerprint,
        "text_span_dedup": ops.text_span_dedup,
        "corpus_quality_filter": ops.corpus_quality_filter,
        "parse_roundtrip": ops.parse_roundtrip,
    }


_SHINGLES_CTE = """
words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM words)
  WHERE length(array_to_string(ws[i:i+2], ' ')) > 0
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""


# Fixed-point embeddings + two Lloyd rounds (ops._kmeans_fit with k=8,
# rounds=2): e = floor(v*1e6) int64 components; a0/a1 = argmin-L2
# assignments (ties -> lowest cent_id); c1/c2 = floor(mean) updates. Every
# value is an exact integer, so the hash compare is drift-free. CAST on
# sums: DuckDB sum(BIGINT) returns HUGEINT.
_KMEANS_CTE = """
e AS (SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x::double * 1000000) AS bigint))
               AS x
      FROM embeddings),
c0 AS (SELECT vec_id AS cent_id, x AS cx FROM e WHERE vec_id < 8),
d0 AS (SELECT e.vec_id, e.x, c.cent_id,
              CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (e.x[i] - c.cx[i]) * (e.x[i] - c.cx[i])))
                   AS bigint) AS dist
       FROM e, c0 c),
a0 AS (SELECT vec_id, x, cent_id AS cell, dist FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist ASC, cent_id ASC) AS rn FROM d0)
       WHERE rn = 1),
u0 AS (SELECT cell, i, CAST(sum(x[i]) AS bigint) AS s, count(*) AS n
       FROM a0, generate_series(1, 64) AS g(i) GROUP BY cell, i),
c1 AS (SELECT cell AS cent_id,
              list(CAST(floor(s::double / n) AS bigint) ORDER BY i) AS cx
       FROM u0 GROUP BY cell),
d1 AS (SELECT e.vec_id, e.x, c.cent_id,
              CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (e.x[i] - c.cx[i]) * (e.x[i] - c.cx[i])))
                   AS bigint) AS dist
       FROM e, c1 c),
a1 AS (SELECT vec_id, x, cent_id AS cell, dist FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist ASC, cent_id ASC) AS rn FROM d1)
       WHERE rn = 1),
u1 AS (SELECT cell, i, CAST(sum(x[i]) AS bigint) AS s, count(*) AS n
       FROM a1, generate_series(1, 64) AS g(i) GROUP BY cell, i),
c2 AS (SELECT cell AS cent_id,
              list(CAST(floor(s::double / n) AS bigint) ORDER BY i) AS cx
       FROM u1 GROUP BY cell)
"""


# PQ codebooks + encode (ops._pq_codebook / embedding_pq_encode): 4
# subspaces x 16 dims, code c of subspace s = slice s of training vector
# vec_id = c; codes = per-(vec, sub) argmin integer L2.
_PQ_CTE = """
e AS (SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x::double * 1000000) AS bigint))
               AS x
      FROM embeddings),
s AS (SELECT unnest([0, 1, 2, 3]) AS sub),
cb AS (SELECT s.sub, e.vec_id AS code,
              list_slice(e.x, s.sub * 16 + 1, s.sub * 16 + 16) AS cx
       FROM e, s WHERE e.vec_id < 16),
ev AS (SELECT e.vec_id, s.sub,
              list_slice(e.x, s.sub * 16 + 1, s.sub * 16 + 16) AS sx
       FROM e, s),
pdist AS (SELECT ev.vec_id, ev.sub, cb.code,
                 CAST(list_sum(list_transform(generate_series(1, 16),
                      i -> (ev.sx[i] - cb.cx[i]) * (ev.sx[i] - cb.cx[i])))
                      AS bigint) AS dist
          FROM ev JOIN cb ON ev.sub = cb.sub),
codes AS (SELECT vec_id, sub, code, dist AS sqdist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                       ORDER BY dist ASC, code ASC) AS rn FROM pdist)
          WHERE rn = 1)
"""


# (doc_id, source, quality_score) — the rounded composed score, identical
# to ops._quality_exprs; shared by corpus_host_cap and
# dedup_cluster_keep_best so THOSE two cannot drift. (The text_quality
# oracle keeps its own inline copy because it also emits the component
# columns n_words/avg_word_len/stopword_ratio — a formula change must
# still touch that copy and ops._quality_exprs.)
_QUALITY_SCORE_CTE = """
qsw AS (SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents),
qscalc AS (
  SELECT doc_id, source,
         coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::double
           / greatest(len(ws), 1) AS awl,
         len(list_filter(ws, x -> list_contains(
             ['the','a','of','and','to','in','with','over','my'],
             x)))::double
           / greatest(len(ws), 1) AS sr
  FROM qsw),
qscore AS (SELECT doc_id, source,
                  round(least(1.0, sr * 2
                              + CASE WHEN awl >= 3 AND awl <= 8
                                     THEN 0.5 ELSE 0.0 END), 4)
                    AS quality_score
           FROM qscalc)
"""


# MinHash-LSH pair detection + connected components down to (doc, comp)
# labels — the recursive-CTE mirror of ops._cc_labels over the
# dedup_minhash_lsh pair set (shared by dedup_cluster_cc and
# dedup_cluster_keep_best; hash chain identical to the dedup_minhash_lsh
# oracle).
_CC_LAB_CTE = f"""{_SHINGLES_CTE},
mh AS (
  SELECT doc_id, k,
         min(('0x' || substr(md5((k // 4)::varchar || ':' || shingle),
                             1 + (k % 4) * 8, 8))::bigint) AS mh
  FROM (SELECT doc_id, shingle,
               unnest(generate_series(0, 15)) AS k FROM sh)
  GROUP BY doc_id, k),
sig AS (
  SELECT doc_id, (k // 4) AS band,
         string_agg(mh::varchar, '-' ORDER BY k) AS sig
  FROM mh GROUP BY doc_id, (k // 4)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY c.doc_a, c.doc_b),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE round(inter::double / (sa.sz + sb.sz - inter), 6) >= 0.5),
und AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(doc, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.u, r.comp FROM reach r JOIN und e ON e.v = r.doc
),
lab AS (SELECT doc, min(comp) AS comp FROM reach GROUP BY doc)
"""


# Per-query (sub, code) ADC partial distances for queries vec_id < 5
# (shared by the PQ top-k/recall and the composed IVF-PQ oracles).
_PQ_ADC_CTE = """
q AS (SELECT e.vec_id AS query_id, s.sub,
             list_slice(e.x, s.sub * 16 + 1, s.sub * 16 + 16) AS qx
      FROM e, s WHERE e.vec_id < 5),
adc AS (SELECT q.query_id, q.sub, cb.code,
               CAST(list_sum(list_transform(generate_series(1, 16),
                    i -> (q.qx[i] - cb.cx[i]) * (q.qx[i] - cb.cx[i])))
                    AS bigint) AS pdist
        FROM q JOIN cb ON q.sub = cb.sub)
"""


# Whole-corpus ADC top-3 (embedding_pq_topk / embedding_pq_recall).
_PQ_TOPK_CTE = _PQ_ADC_CTE + """,
cand AS (SELECT a.query_id, c.vec_id, CAST(sum(a.pdist) AS bigint) AS adist
         FROM codes c JOIN adc a ON c.sub = a.sub AND c.code = a.code
         WHERE c.vec_id <> a.query_id
         GROUP BY a.query_id, c.vec_id),
topk AS (SELECT query_id, vec_id, rank, adist FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adist ASC, vec_id ASC) AS rank FROM cand)
         WHERE rank <= 3)
"""


# Per-subspace k-means PQ training (ops._pq_codebook_trained): two Lloyd
# rounds replayed in SQL — per round, argmin-assign every (vec, sub) to
# its nearest code of the current codebook (ties -> lowest code, the
# shared _argmin_l2 rule), then floor(avg) per (sub, code, component);
# codes that lose every member keep their previous entry (LEFT JOIN +
# coalesce). cb2t is the trained codebook, tcodes the corpus encoded
# against it. Needs e/s/cb/ev from _PQ_CTE.
_PQ_TRAIN_CTE = """
tp0 AS (SELECT ev.vec_id, ev.sub, cb.code,
               CAST(list_sum(list_transform(generate_series(1, 16),
                    i -> (ev.sx[i] - cb.cx[i]) * (ev.sx[i] - cb.cx[i])))
                    AS bigint) AS dist
        FROM ev JOIN cb ON ev.sub = cb.sub),
tc0 AS (SELECT vec_id, sub, code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                     ORDER BY dist ASC, code ASC) AS rn FROM tp0)
        WHERE rn = 1),
tu0 AS (SELECT c.sub, c.code, g.i,
               CAST(floor(sum(ev.sx[g.i])::double / count(*)) AS bigint)
                 AS comp
        FROM tc0 c
        JOIN ev ON ev.vec_id = c.vec_id AND ev.sub = c.sub,
             generate_series(1, 16) AS g(i)
        GROUP BY c.sub, c.code, g.i),
tcu0 AS (SELECT sub, code, list(comp ORDER BY i) AS cx
         FROM tu0 GROUP BY sub, code),
cb1t AS (SELECT cb.sub, cb.code, coalesce(u.cx, cb.cx) AS cx
         FROM cb LEFT JOIN tcu0 u
           ON u.sub = cb.sub AND u.code = cb.code),
tp1 AS (SELECT ev.vec_id, ev.sub, c.code,
               CAST(list_sum(list_transform(generate_series(1, 16),
                    i -> (ev.sx[i] - c.cx[i]) * (ev.sx[i] - c.cx[i])))
                    AS bigint) AS dist
        FROM ev JOIN cb1t c ON ev.sub = c.sub),
tc1 AS (SELECT vec_id, sub, code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                     ORDER BY dist ASC, code ASC) AS rn FROM tp1)
        WHERE rn = 1),
tu1 AS (SELECT c.sub, c.code, g.i,
               CAST(floor(sum(ev.sx[g.i])::double / count(*)) AS bigint)
                 AS comp
        FROM tc1 c
        JOIN ev ON ev.vec_id = c.vec_id AND ev.sub = c.sub,
             generate_series(1, 16) AS g(i)
        GROUP BY c.sub, c.code, g.i),
tcu1 AS (SELECT sub, code, list(comp ORDER BY i) AS cx
         FROM tu1 GROUP BY sub, code),
cb2t AS (SELECT c.sub, c.code, coalesce(u.cx, c.cx) AS cx
         FROM cb1t c LEFT JOIN tcu1 u
           ON u.sub = c.sub AND u.code = c.code),
tpd AS (SELECT ev.vec_id, ev.sub, c.code,
               CAST(list_sum(list_transform(generate_series(1, 16),
                    i -> (ev.sx[i] - c.cx[i]) * (ev.sx[i] - c.cx[i])))
                    AS bigint) AS dist
        FROM ev JOIN cb2t c ON ev.sub = c.sub),
tcodes AS (SELECT vec_id, sub, code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY dist ASC, code ASC) AS rn FROM tpd)
           WHERE rn = 1)
"""


# Composed IVF-PQ: integer-L2 cell assignment over the sqrt(n) codebook,
# 2-cell probes, ADC ranking restricted to probed cells' codes
# (ops._ivfpq_index / embedding_ann_ivfpq).
_IVFPQ_TOPK_CTE = _PQ_ADC_CTE + """,
cl AS (SELECT vec_id AS cent_id, x AS cx FROM e
       WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint)
                       FROM e)),
cd AS (SELECT e.vec_id, c.cent_id,
              CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (e.x[i] - c.cx[i]) * (e.x[i] - c.cx[i])))
                   AS bigint) AS dist
       FROM e, cl c),
cells AS (SELECT vec_id, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist ASC, cent_id ASC) AS rn FROM cd)
          WHERE rn = 1),
qp AS (SELECT e.vec_id AS query_id, c.cent_id,
              CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (e.x[i] - c.cx[i]) * (e.x[i] - c.cx[i])))
                   AS bigint) AS dist
       FROM e, cl c WHERE e.vec_id < 5),
probes AS (SELECT query_id, cent_id AS cell FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY dist ASC, cent_id ASC) AS rn FROM qp)
           WHERE rn <= 2),
icand AS (SELECT a.query_id, co.vec_id,
                 CAST(sum(a.pdist) AS bigint) AS adist
          FROM codes co
          JOIN cells ce ON co.vec_id = ce.vec_id
          JOIN probes p ON ce.cell = p.cell
          JOIN adc a ON a.query_id = p.query_id AND a.sub = co.sub
                    AND a.code = co.code
          WHERE co.vec_id <> p.query_id
          GROUP BY a.query_id, co.vec_id),
itopk AS (SELECT query_id, vec_id, rank, adist FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY adist ASC, vec_id ASC) AS rank FROM icand)
          WHERE rank <= 3)
"""


def oracle_sql() -> dict[str, str]:
    # VALUES oracles for the deterministic fingerprint-pinned queries
    # (kernel corpus + media) live in the generated pinned_oracles.py —
    # regenerate with scripts/gen_pinned_oracles.py after intentional
    # kernel changes
    try:
        from pinned_oracles import PINNED_ORACLES
    except ImportError:
        PINNED_ORACLES = {}
    return PINNED_ORACLES | {
        "parse_roundtrip": """
            SELECT doc_id, 'ok' AS status,
                   'doc-' || doc_id::varchar AS title,
                   text AS main_text
            FROM documents
            WHERE regexp_matches(text, '^[a-z0-9 ]*$')
        """,
        "filter_project": """
            SELECT doc_id, n_chars, upper(source) AS source_uc,
                   length(text) - n_chars AS len_delta
            FROM documents WHERE lang = 'en'
        """,
        "window_dedup_latest": """
            SELECT user_id, event_id, event_type, round(value, 2) AS value_r
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1
        """,
        "explode_tokens": """
            SELECT doc_id, i - 1 AS pos, ws[i] AS token
            FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
                  FROM (SELECT doc_id, string_split(text, ' ') AS ws
                        FROM documents))
            WHERE ws[i] <> ''
        """,
        "agg_counters": """
            -- outer sum cast: DuckDB sum(BIGINT) -> HUGEINT, Spark -> bigint
            SELECT event_type, count(*) AS n,
                   (sum(round(value * 100, 0)::bigint))::bigint AS total_value_cents,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "events_value_quantiles": """
            -- exact linear-interpolated quantiles (both engines use the
            -- standard rank p*(n-1) definition)
            SELECT event_type, count(*) AS n,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type
        """,
        "token_heavy_hitters": """
            SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC)
                     AS rank
            FROM (SELECT token, count(*) AS n
                  FROM (SELECT unnest(string_split(text, ' ')) AS token
                        FROM documents)
                  WHERE token <> '' GROUP BY token
                  ORDER BY n DESC, token ASC LIMIT 20)
        """,
        "events_sessionize": """
            -- 30-min-gap sessionization; gap/duration in exact integer
            -- microseconds (epoch_us) — events carry sub-second timestamps
            WITH lagged AS (
              SELECT *, lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_ts
              FROM events),
            flagged AS (
              SELECT *, CASE WHEN prev_ts IS NULL
                               OR epoch_us(ts) - epoch_us(prev_ts)
                                  > 1800000000
                             THEN 1 ELSE 0 END AS new_sess
              FROM lagged),
            sess AS (
              SELECT *, (sum(new_sess) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING))::bigint AS session_id
              FROM flagged)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS start_ts, max(ts) AS end_ts,
                   (epoch_us(max(ts)) - epoch_us(min(ts)))::bigint
                     AS duration_us,
                   count(DISTINCT event_type) AS n_event_types
            FROM sess GROUP BY user_id, session_id
        """,
        "asof_join_latest_order": """
            -- DuckDB's NATIVE ASOF JOIN is the oracle for our union-sort
            -- implementation; the right side is made unique per
            -- (custkey, ts) first so tie handling is deterministic
            WITH o AS (SELECT o_custkey, o_orderdate,
                              max(o_orderkey) AS o_orderkey
                       FROM orders GROUP BY o_custkey, o_orderdate)
            SELECT e.event_id, e.user_id, e.ts,
                   o.o_orderkey AS last_orderkey,
                   o.o_orderdate AS last_orderdate
            FROM events e
            ASOF LEFT JOIN o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   (sum(round(l_quantity * 100, 0)::bigint))::bigint AS sum_qty_c,
                   (sum(round(l_extendedprice * 100, 0)::bigint))::bigint
                     AS sum_base_price_c,
                   (sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::bigint))::bigint
                     AS sum_disc_price_c,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_revenue_by_order": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   (sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::bigint))::bigint
                     AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            HAVING sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::bigint)
                   > 100000
        """,
        "join_broadcast_dims": """
            SELECT r_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": f"""
            -- hot-shingle document-frequency cap (64) mirrors
            -- ops.SHINGLE_DF_CAP: Jaccard over informative shingles only
            WITH {_SHINGLES_CTE},
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) <= 64),
            shc AS (SELECT sh.doc_id, sh.shingle
                    FROM sh JOIN keep USING (shingle)),
            szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM shc a JOIN shc b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   round(inter::double / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN szc sa ON sa.doc_id = doc_a
            JOIN szc sb ON sb.doc_id = doc_b
            WHERE round(inter::double / (sa.sz + sb.sz - inter), 6) >= 0.5
        """,
        "dedup_minhash_lsh": f"""
            WITH {_SHINGLES_CTE},
            -- hash k = 8-hex-char slice (k%4) of md5((k//4) ':' shingle):
            -- one digest per band, mirroring ops.dedup_minhash_lsh
            mh AS (
              SELECT doc_id, k,
                     min(('0x' || substr(md5((k // 4)::varchar || ':' || shingle),
                                         1 + (k % 4) * 8, 8))::bigint) AS mh
              FROM (SELECT doc_id, shingle,
                           unnest(generate_series(0, 15)) AS k FROM sh)
              GROUP BY doc_id, k),
            sig AS (
              SELECT doc_id, (k // 4) AS band,
                     string_agg(mh::varchar, '-' ORDER BY k) AS sig
              FROM mh GROUP BY doc_id, (k // 4)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sig a JOIN sig b
                ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
              GROUP BY c.doc_a, c.doc_b)
            SELECT doc_a, doc_b,
                   round(inter::double / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE round(inter::double / (sa.sz + sb.sz - inter), 6) >= 0.5
        """,
        "dedup_lsh_eval": f"""
            -- precision/recall of the banded-LSH pair set vs the exact
            -- hot-shingle-capped Jaccard pairs (both CTE chains are the
            -- same pipelines as their own oracles)
            WITH {_SHINGLES_CTE},
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) <= 64),
            shc AS (SELECT sh.doc_id, sh.shingle
                    FROM sh JOIN keep USING (shingle)),
            szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
            jint AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM shc a JOIN shc b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            truth AS (
              SELECT doc_a, doc_b FROM jint
              JOIN szc sa ON sa.doc_id = doc_a
              JOIN szc sb ON sb.doc_id = doc_b
              WHERE round(i::double / (sa.sz + sb.sz - i), 6) >= 0.5),
            mh AS (
              SELECT doc_id, k,
                     min(('0x' || substr(md5((k // 4)::varchar || ':' || shingle),
                                         1 + (k % 4) * 8, 8))::bigint) AS mh
              FROM (SELECT doc_id, shingle,
                           unnest(generate_series(0, 15)) AS k FROM sh)
              GROUP BY doc_id, k),
            msig AS (
              SELECT doc_id, (k // 4) AS band,
                     string_agg(mh::varchar, '-' ORDER BY k) AS sig
              FROM mh GROUP BY doc_id, (k // 4)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM msig a JOIN msig b
                ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
            mint AS (
              SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
              GROUP BY c.doc_a, c.doc_b),
            found AS (
              SELECT doc_a, doc_b FROM mint
              JOIN sz sa ON sa.doc_id = doc_a
              JOIN sz sb ON sb.doc_id = doc_b
              WHERE round(i::double / (sa.sz + sb.sz - i), 6) >= 0.5),
            hit AS (SELECT t.doc_a, t.doc_b FROM truth t
                    JOIN found f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
            SELECT (SELECT count(*) FROM truth) AS n_true,
                   (SELECT count(*) FROM found) AS n_found,
                   (SELECT count(*) FROM hit) AS n_hit,
                   round((SELECT count(*) FROM hit)::double
                         / greatest((SELECT count(*) FROM found), 1), 4)
                     AS precision,
                   round((SELECT count(*) FROM hit)::double
                         / greatest((SELECT count(*) FROM truth), 1), 4)
                     AS recall
        """,
        "dedup_simhash": f"""
            WITH {_SHINGLES_CTE},
            h AS (SELECT doc_id,
                         ('0x' || substr(md5('0:' || shingle), 1, 8))::bigint AS h
                  FROM sh),
            votes AS (
              SELECT doc_id, bit, sum(((h >> bit) & 1) * 2 - 1) AS vote
              FROM (SELECT doc_id, h, unnest(generate_series(0, 31)) AS bit
                    FROM h)
              GROUP BY doc_id, bit)
            SELECT doc_id,
                   (sum(CASE WHEN vote > 0 THEN (1::bigint << bit) ELSE 0 END))::bigint
                     AS simhash
            FROM votes GROUP BY doc_id
        """,
        "embedding_topk": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(q.qv, e.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.v, e.v))) AS cos
              FROM q, e WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored)
            SELECT query_id, vec_id, rank, round(cos, 4) AS cos_r
            FROM ranked WHERE rank <= 3
        """,
        "text_token_count": """
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), w -> w <> '')) AS ws_tokens,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
            FROM documents
        """,
        "text_quality": """
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            calc AS (
              SELECT doc_id, len(ws) AS n_words,
                     coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::double
                       / greatest(len(ws), 1) AS awl,
                     len(list_filter(ws, x -> list_contains(
                         ['the','a','of','and','to','in','with','over','my'], x)))::double
                       / greatest(len(ws), 1) AS sr
              FROM w)
            SELECT doc_id, n_words, round(awl, 4) AS avg_word_len,
                   round(sr, 4) AS stopword_ratio,
                   round(least(1.0, sr * 2 + CASE WHEN awl >= 3 AND awl <= 8
                                                  THEN 0.5 ELSE 0.0 END), 4)
                     AS quality_score
            FROM calc
        """,
        "text_lang_id": """
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            hits AS (
              SELECT doc_id,
                len(list_filter(ws, x -> list_contains(
                    ['the','a','of','and','to','in','with','over','my'], x))) AS hits_en,
                len(list_filter(ws, x -> list_contains(
                    ['der','die','das','und','mit','ein','zu'], x))) AS hits_de,
                len(list_filter(ws, x -> list_contains(
                    ['le','la','les','et','de','un','une'], x))) AS hits_fr
              FROM w)
            SELECT doc_id, hits_en, hits_de, hits_fr,
                   CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
                        WHEN hits_de >= hits_fr THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM hits
        """,
        "corpus_train_test_split": """
            -- portable md5-derived hash mod 100 mirrors ops._portable_hash32
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5('split:' || doc_id::varchar),
                                             1, 8))::bigint % 100 < 90
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        """,
        "corpus_stratified_sample": """
            -- per-language keep rates over the same portable hash family
            SELECT doc_id, lang, bucket FROM (
              SELECT doc_id, lang,
                     ('0x' || substr(md5('strat:' || doc_id::varchar),
                                     1, 8))::bigint % 100 AS bucket
              FROM documents)
            WHERE bucket < CASE lang WHEN 'en' THEN 90 WHEN 'de' THEN 50
                                     WHEN 'fr' THEN 20 ELSE 0 END
        """,
        "corpus_pack_sequences": """
            -- concat-and-chunk packing: deterministic shard hash mirrors
            -- ops._portable_hash32 % 32, budget 2048 tokens per sequence
            WITH d AS (
              SELECT doc_id,
                     ('0x' || substr(md5('pack:' || doc_id::varchar),
                                     1, 8))::bigint % 32 AS shard,
                     len(list_filter(string_split(text, ' '),
                                     x -> x <> '')) AS n_tokens
              FROM documents),
            c AS (
              SELECT *, (sum(n_tokens) OVER (PARTITION BY shard
                          ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING))::bigint AS cum
              FROM d)
            SELECT doc_id, shard, n_tokens,
                   (cum - n_tokens)::bigint AS start_tok,
                   ((cum - n_tokens) // 2048)::bigint AS seq_first,
                   ((cum - 1) // 2048)::bigint AS seq_last
            FROM c
        """,
        "text_tfidf_top_terms": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM tok GROUP BY doc_id, token),
            df AS (SELECT token, count(DISTINCT doc_id) AS df
                   FROM tok GROUP BY token),
            scored AS (
              SELECT tf.doc_id, tf.token, tf.tf, df.df,
                     tf.tf * ln(((SELECT count(*) FROM documents) + 1)::double
                                / (df.df + 1)) AS tfidf
              FROM tf JOIN df USING (token))
            SELECT doc_id, token, tf, df, rank, round(tfidf, 4) AS tfidf_r
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY tfidf DESC, token ASC) AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        "text_pii_scrub": """
            -- deterministic PII injection (same formulas as ops.text_pii_scrub),
            -- then scrub + count; 'g' flag: DuckDB regexp_replace is
            -- single-match by default where Spark's is global
            WITH raw AS (
              SELECT doc_id, text
                || CASE WHEN doc_id % 3 = 0
                        THEN ' contact ' || substr(md5(doc_id::varchar), 1, 6)
                             || '@example.com' ELSE '' END
                || CASE WHEN doc_id % 5 = 0
                        THEN ' call ' || lpad(((doc_id * 7) % 1000)::varchar,
                                              3, '0')
                             || '-555-' || lpad((doc_id % 10000)::varchar,
                                                4, '0') ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(
                       t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))::int
                     AS n_emails,
                   len(regexp_extract_all(
                       t, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::int AS n_phones,
                   md5(regexp_replace(
                       regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                                      '<EMAIL>', 'g'),
                       '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
                     AS scrubbed_md5
            FROM raw
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
            FROM documents
        """,
        "corpus_quality_filter": """
            -- composed cleaning pass: exact-dedup keeper AND lang=en AND
            -- quality >= 0.6 AND 20..1000 tokens (same formulas as the
            -- individual text_quality / text_lang_id / dedup_exact oracles)
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            calc AS (
              SELECT doc_id, len(ws) AS n_words,
                     coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::double
                       / greatest(len(ws), 1) AS awl,
                     len(list_filter(ws, x -> list_contains(
                         ['the','a','of','and','to','in','with','over','my'], x)))::double
                       / greatest(len(ws), 1) AS sr
              FROM w),
            q AS (SELECT doc_id, n_words,
                         round(least(1.0, sr * 2 + CASE WHEN awl >= 3 AND awl <= 8
                                                        THEN 0.5 ELSE 0.0 END), 4)
                           AS quality_score
                  FROM calc),
            hits AS (
              SELECT doc_id,
                len(list_filter(ws, x -> list_contains(
                    ['the','a','of','and','to','in','with','over','my'], x))) AS hits_en,
                len(list_filter(ws, x -> list_contains(
                    ['der','die','das','und','mit','ein','zu'], x))) AS hits_de,
                len(list_filter(ws, x -> list_contains(
                    ['le','la','les','et','de','un','une'], x))) AS hits_fr
              FROM w),
            lang AS (
              SELECT doc_id,
                     CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
                          WHEN hits_de >= hits_fr THEN 'de'
                          ELSE 'fr' END AS lang_pred
              FROM hits),
            keepers AS (SELECT min(doc_id) AS doc_id FROM documents
                        GROUP BY md5(text))
            SELECT q.doc_id, q.n_words, q.quality_score, lang.lang_pred
            FROM q
            JOIN lang USING (doc_id)
            JOIN keepers USING (doc_id)
            WHERE lang_pred = 'en' AND quality_score >= 0.6
              AND n_words BETWEEN 20 AND 1000
        """,
        "text_span_dedup": """
            -- 16-word windows, stride 8 (ops.SPAN_WINDOW/SPAN_STRIDE):
            -- spans shared by >= 2 docs
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            eligible AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) >= 16),
            wins AS (
              SELECT DISTINCT doc_id,
                     md5(array_to_string(ws[i*8+1 : i*8+16], ' ')) AS span_hash
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(0, (n - 16) // 8)) AS i
                    FROM eligible))
            SELECT span_hash, count(*) AS n_docs, min(doc_id) AS keeper_id
            FROM wins GROUP BY span_hash HAVING count(*) >= 2
        """,
        "text_span_scrub": """
            -- duplicate-span REMOVAL: same 16/8 windows as text_span_dedup;
            -- non-keeper occurrences drop their covered word positions and
            -- the text is rebuilt from the survivors
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            wins AS (
              SELECT doc_id, i,
                     md5(array_to_string(ws[i*8+1 : i*8+16], ' ')) AS span_hash
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(0, (len(ws) - 16) // 8)) AS i
                    FROM w WHERE len(ws) >= 16)),
            dup AS (SELECT span_hash, min(doc_id) AS keeper_id
                    FROM (SELECT DISTINCT doc_id, span_hash FROM wins)
                    GROUP BY span_hash HAVING count(*) >= 2),
            rm AS (SELECT doc_id, list(DISTINCT p) AS rm
                   FROM (SELECT wins.doc_id,
                                unnest(generate_series(i*8, i*8 + 15)) AS p
                         FROM wins JOIN dup USING (span_hash)
                         WHERE wins.doc_id <> dup.keeper_id)
                   GROUP BY doc_id)
            SELECT w.doc_id, len(ws)::int AS n_words,
                   coalesce(len(rm), 0)::int AS n_removed,
                   md5(coalesce(array_to_string(
                       list_filter(list_transform(generate_series(1, len(ws)),
                           i -> CASE WHEN rm IS NULL
                                      OR NOT list_contains(rm, i - 1)
                                THEN ws[i] END),
                           x -> x IS NOT NULL), ' '), '')) AS clean_md5
            FROM w LEFT JOIN rm USING (doc_id)
        """,
        "corpus_datasheet": """
            SELECT lang, source,
                   (GROUPING(lang) * 2 + GROUPING(source))::bigint AS gid,
                   count(*)::bigint AS n_docs,
                   (sum(n_chars))::bigint AS sum_chars,
                   (min(n_chars))::bigint AS min_chars,
                   (max(n_chars))::bigint AS max_chars,
                   (sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END))::bigint
                       AS n_short
            FROM documents
            GROUP BY CUBE (lang, source)
        """,
        "corpus_url_dedup": """
            -- deterministic messy-URL synthesis (same residue classes as
            -- ops.corpus_url_dedup), then the same canonicalization chain;
            -- DuckDB regexp_replace is single-match unless 'g'
            WITH u0 AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 4 = 0 THEN 'HTTP' ELSE 'http' END)
                     || '://'
                     || (CASE WHEN doc_id % 3 = 0
                              THEN upper(source || '.example.com')
                              ELSE source || '.example.com' END)
                     || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
                     || '/p/' || (doc_id % 50)::varchar
                     || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 6 = 0
                              THEN '?utm_source=feed&utm_campaign=x'
                              WHEN doc_id % 9 = 0
                              THEN '?id=7&utm_medium=social'
                              ELSE '' END)
                     || (CASE WHEN doc_id % 7 = 0 THEN '#section-2'
                              ELSE '' END) AS u
              FROM documents),
            c1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM u0),
            c2 AS (SELECT doc_id,
                          lower(regexp_extract(u, '^[^/]*//[^/?#]*'))
                          || substr(u, length(
                                 regexp_extract(u, '^[^/]*//[^/?#]*')) + 1)
                            AS u
                   FROM c1),
            c3 AS (SELECT doc_id, regexp_replace(
                       regexp_replace(u, '^(http://[^/:]+):80(/|$)',
                                      '\\1\\2'),
                       '^(https://[^/:]+):443(/|$)', '\\1\\2') AS u
                   FROM c2),
            c4 AS (SELECT doc_id, regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(
                           u, '(utm_[a-z]+|fbclid)=[^&#]*&?', '', 'g'),
                           '[?&]+$', ''),
                       '/(\\?)', '\\1'), '/+$', '') AS u
                   FROM c3)
            SELECT u AS canonical_url, count(*) AS n_variants,
                   min(doc_id) AS keeper_id
            FROM c4 GROUP BY u
        """,
        "text_dsir_weights": """
            -- DSIR hashed uni+bigram importance weights: portable md5
            -- bucket hash, Laplace-smoothed target(lang=en)/raw bucket
            -- distributions, mean per-gram log ratio
            WITH w AS (SELECT doc_id, lang,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws
                       FROM documents),
            g0 AS (SELECT doc_id, lang,
                          unnest(ws || list_transform(
                              generate_series(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1])) AS gram
                   FROM w),
            g AS (SELECT doc_id, lang,
                         ('0x' || substr(md5('dsir:' || gram), 1, 8))::bigint
                           % 256 AS b
                  FROM g0),
            bucket AS (SELECT b, count(*) AS c_raw,
                              sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                                AS c_tgt
                       FROM g GROUP BY b),
            tot AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt
                    FROM bucket),
            lr AS (SELECT b, ln(((c_tgt + 1)::double / (t_tgt + 256))
                               / ((c_raw + 1)::double / (t_raw + 256))) AS lr
                   FROM bucket, tot),
            pd AS (SELECT doc_id, b, count(*) AS c FROM g GROUP BY doc_id, b)
            SELECT doc_id, sum(c)::bigint AS n_grams,
                   round(sum(c * lr) / sum(c), 6) AS dsir_weight
            FROM pd JOIN lr USING (b) GROUP BY doc_id
        """,
        "text_lm_perplexity": """
            -- add-1-smoothed hashed-unigram LM fit on lang='en', mean
            -- per-token bits + perplexity; ppl derives from ROUNDED h_bits
            WITH w AS (SELECT doc_id, lang,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws
                       FROM documents),
            g0 AS (SELECT doc_id, lang, unnest(ws) AS tok FROM w),
            g AS (SELECT doc_id, lang,
                         ('0x' || substr(md5('lm:' || tok), 1, 8))::bigint
                           % 4096 AS b
                  FROM g0),
            lm AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en'
                   GROUP BY b),
            tot AS (SELECT sum(c) AS t FROM lm),
            pd AS (SELECT doc_id, b, count(*) AS k FROM g
                   GROUP BY doc_id, b),
            s AS (SELECT doc_id, k,
                         -log2((coalesce(c, 0) + 1)::double / (t + 4096))
                           AS nll
                  FROM pd LEFT JOIN lm USING (b), tot),
            h AS (SELECT doc_id, sum(k)::bigint AS n_tokens,
                         round(sum(k * nll) / sum(k), 6) AS h_bits
                  FROM s GROUP BY doc_id)
            SELECT doc_id, n_tokens, h_bits,
                   round(pow(2, h_bits), 4) AS ppl
            FROM h
        """,
        "corpus_curation_pipeline": """
            -- composed curation: quality-filter stage (same CTEs as the
            -- corpus_quality_filter oracle) ∧ URL-canonical keeper ∧ NOT
            -- contaminated, then the per-host quality-ranked cap
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws
                       FROM documents),
            calc AS (
              SELECT doc_id, len(ws) AS n_words,
                     coalesce(list_sum(list_transform(ws, x -> length(x))),
                              0)::double / greatest(len(ws), 1) AS awl,
                     len(list_filter(ws, x -> list_contains(
                         ['the','a','of','and','to','in','with','over','my'],
                         x)))::double / greatest(len(ws), 1) AS sr
              FROM w),
            q AS (SELECT doc_id, n_words,
                         round(least(1.0, sr * 2
                             + CASE WHEN awl >= 3 AND awl <= 8
                                    THEN 0.5 ELSE 0.0 END), 4)
                           AS quality_score
                  FROM calc),
            hits AS (
              SELECT doc_id,
                len(list_filter(ws, x -> list_contains(
                    ['the','a','of','and','to','in','with','over','my'],
                    x))) AS hits_en,
                len(list_filter(ws, x -> list_contains(
                    ['der','die','das','und','mit','ein','zu'], x)))
                  AS hits_de,
                len(list_filter(ws, x -> list_contains(
                    ['le','la','les','et','de','un','une'], x))) AS hits_fr
              FROM w),
            lang AS (
              SELECT doc_id,
                     CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr
                          THEN 'en'
                          WHEN hits_de >= hits_fr THEN 'de'
                          ELSE 'fr' END AS lang_pred
              FROM hits),
            keepers AS (SELECT min(doc_id) AS doc_id FROM documents
                        GROUP BY md5(text)),
            qf AS (SELECT q.doc_id, q.n_words, q.quality_score,
                          lang.lang_pred
                   FROM q JOIN lang USING (doc_id)
                          JOIN keepers USING (doc_id)
                   WHERE lang_pred = 'en' AND quality_score >= 0.6
                     AND n_words BETWEEN 20 AND 1000),
            u0 AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 4 = 0 THEN 'HTTP' ELSE 'http' END)
                     || '://'
                     || (CASE WHEN doc_id % 3 = 0
                              THEN upper(source || '.example.com')
                              ELSE source || '.example.com' END)
                     || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
                     || '/p/' || (doc_id % 50)::varchar
                     || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 6 = 0
                              THEN '?utm_source=feed&utm_campaign=x'
                              WHEN doc_id % 9 = 0
                              THEN '?id=7&utm_medium=social'
                              ELSE '' END)
                     || (CASE WHEN doc_id % 7 = 0 THEN '#section-2'
                              ELSE '' END) AS u
              FROM documents),
            c1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u
                   FROM u0),
            c2 AS (SELECT doc_id,
                          lower(regexp_extract(u, '^[^/]*//[^/?#]*'))
                          || substr(u, length(
                                 regexp_extract(u, '^[^/]*//[^/?#]*')) + 1)
                            AS u
                   FROM c1),
            c3 AS (SELECT doc_id, regexp_replace(
                       regexp_replace(u, '^(http://[^/:]+):80(/|$)',
                                      '\\1\\2'),
                       '^(https://[^/:]+):443(/|$)', '\\1\\2') AS u
                   FROM c2),
            c4 AS (SELECT doc_id, regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(
                           u, '(utm_[a-z]+|fbclid)=[^&#]*&?', '', 'g'),
                           '[?&]+$', ''),
                       '/(\\?)', '\\1'), '/+$', '') AS u
                   FROM c3),
            urlkeep AS (SELECT min(doc_id) AS doc_id FROM c4 GROUP BY u),
            dw AS (SELECT doc_id, string_split(text, ' ') AS dws
                   FROM documents),
            gd AS (SELECT DISTINCT doc_id,
                                   array_to_string(dws[i:i+3], ' ') AS gram
                   FROM (SELECT doc_id, dws,
                                unnest(generate_series(1, len(dws) - 3)) AS i
                         FROM dw WHERE len(dws) >= 4)),
            ev AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 50 = 0),
            contaminated AS (SELECT DISTINCT doc_id
                             FROM gd JOIN ev USING (gram)
                             WHERE doc_id % 50 <> 0),
            kept AS (SELECT qf.doc_id, d.source, qf.n_words,
                            qf.quality_score, qf.lang_pred
                     FROM qf JOIN urlkeep USING (doc_id)
                             JOIN documents d USING (doc_id)
                     WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                                       WHERE c.doc_id = qf.doc_id))
            SELECT doc_id, source, n_words, quality_score, lang_pred,
                   host_rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY source
                      ORDER BY quality_score DESC, doc_id ASC) AS host_rank
                  FROM kept)
            WHERE host_rank <= 10
        """,
        "corpus_mix_temperature": """
            -- n_src^(1/2) temperature mixing under a 0.5*N budget; integer
            -- millionth thresholds over the portable doc hash
            WITH counts AS (SELECT source, count(*) AS n_src
                            FROM documents GROUP BY source),
            tot AS (SELECT sum(n_src) AS n_tot, sum(pow(n_src, 0.5)) AS z
                    FROM counts),
            rates AS (SELECT source, n_src,
                             floor(least(1.0, 0.5 * n_tot * pow(n_src, 0.5)
                                              / (z * n_src))
                                   * 1e6 + 1e-9)::bigint AS keep_thr
                      FROM counts, tot)
            SELECT doc_id, source, keep_thr
            FROM documents JOIN rates USING (source)
            WHERE ('0x' || substr(md5('mix:' || doc_id::varchar),
                                  1, 8))::bigint % 1000000 < keep_thr
        """,
        "media_video_frames": """
            -- recomputes the FVID metadata arithmetically (fps/frame count
            -- are pure functions of media_id; payload stores 16 bytes for
            -- the first 64 frames) — matching values prove the Spark side
            -- decoded the actual container bytes
            WITH ids AS (SELECT unnest(generate_series(0, 199)) AS media_id),
            p AS (SELECT media_id, 12 + (media_id % 4) * 6 AS fps,
                         30 + (media_id * 17) % 270 AS nf
                  FROM ids),
            fr AS (SELECT media_id, fps, nf,
                          unnest(generate_series(0, (nf - 1) // 8)) AS idx
                   FROM p)
            SELECT media_id, idx::int AS frame_idx,
                   ((idx * 8 * 1000) // fps)::int AS ts_ms,
                   (CASE WHEN idx * 8 < least(nf, 64) THEN 16
                         ELSE 0 END)::int AS frame_bytes
            FROM fr
        """,
        "media_pdf_text": """
            -- recomputes the FPDF page text arithmetically: word w of page p
            -- of doc d = first 6 hex chars of md5('pdf:d:p:w')
            WITH ids AS (SELECT unnest(generate_series(0, 199)) AS doc_id),
            pages AS (SELECT doc_id,
                             unnest(generate_series(0, doc_id % 5)) AS page_no
                      FROM ids),
            words AS (SELECT doc_id, page_no,
                             unnest(generate_series(0, 9 + (doc_id + page_no) % 20)) AS w
                      FROM pages),
            wtext AS (
              SELECT doc_id, page_no,
                     string_agg(substr(md5('pdf:' || doc_id::varchar || ':'
                                           || page_no::varchar || ':'
                                           || w::varchar), 1, 6),
                                ' ' ORDER BY w) AS text
              FROM words GROUP BY doc_id, page_no)
            SELECT doc_id, page_no::int AS page_no, text,
                   (10 + (doc_id + page_no) % 20)::int AS n_words,
                   length(text)::int AS n_chars
            FROM wtext
        """,
        "nodes_stats_consistency": """
            SELECT 0::bigint AS n_violations
        """,
        "spans_cover_main_text": """
            SELECT 0::bigint AS n_violations
        """,
        # fixture-pinned expectations for the deterministic synthetic corpus
        # (seed=42, N_CORPUS=300 + ~5% dup snapshots = 315 pages): these pin
        # the KERNEL's status taxonomy and error counters as a value-hash
        # gate, not just a row count
        "parse_corpus_status": """
            SELECT * FROM (VALUES
              ('ok', 304::bigint),
              ('err:not-implemented:after-after-body', 2::bigint),
              ('err:not-implemented:comment', 1::bigint),
              ('err:not-implemented:in-body-any-other-end-tag', 1::bigint),
              ('err:not-implemented:in-body-form', 2::bigint),
              ('err:not-implemented:in-body-heading', 1::bigint),
              ('err:not-implemented:in-body-pre', 2::bigint),
              ('err:selfclosing-eof', 2::bigint)
            ) AS t(status, n)
        """,
        "parse_error_counters": """
            SELECT * FROM (VALUES
              ('parse error', 5748::bigint),
              ('missing-semicolon-after-character-reference', 36::bigint),
              ('absence-of-digits-in-numeric-character-reference', 31::bigint),
              ('unknown-named-character-reference', 29::bigint),
              ('invalid-first-character-of-tag-name', 2::bigint),
              ('unexpected-question-mark-instead-of-tag-name', 1::bigint)
            ) AS t(code, n)
        """,
        "embedding_ivf_cell_stats": """
            -- per-distribution IVF cell-population balance report: the
            -- same argmax assignment as embedding_ann_ivf, over the
            -- md5-uniform vectors AND the mixture-of-shifted-blobs set
            -- (3*base[vec_id%8] + vec); all-integer columns
            WITH raw AS (SELECT vec_id,
                                list_transform(embedding, x -> x::double) AS v
                         FROM embeddings),
            nc AS (SELECT greatest(16, ceil(sqrt(count(*)))::bigint) AS n
                   FROM raw),
            base AS (SELECT vec_id AS c, v AS bv FROM raw WHERE vec_id < 8),
            e_c AS (SELECT r.vec_id,
                           list_transform(generate_series(1, len(r.v)),
                                          i -> 3.0 * b.bv[i] + r.v[i]) AS v
                    FROM raw r JOIN base b ON r.vec_id % 8 = b.c),
            cent_u AS (SELECT vec_id AS cent_id, v AS cv FROM raw
                       WHERE vec_id < (SELECT n FROM nc)),
            ac_u AS (SELECT e.vec_id, c.cent_id,
                            list_dot_product(e.v, c.cv)
                              / (sqrt(list_dot_product(e.v, e.v))
                                 * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                     FROM raw e, cent_u c),
            a_u AS (SELECT vec_id, cent_id AS cell FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cent_id ASC) AS rn
                      FROM ac_u) WHERE rn = 1),
            p_u AS (SELECT cell, count(*) AS pop FROM a_u GROUP BY cell),
            cent_c AS (SELECT vec_id AS cent_id, v AS cv FROM e_c
                       WHERE vec_id < (SELECT n FROM nc)),
            ac_c AS (SELECT e.vec_id, c.cent_id,
                            list_dot_product(e.v, c.cv)
                              / (sqrt(list_dot_product(e.v, e.v))
                                 * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                     FROM e_c e, cent_c c),
            a_c AS (SELECT vec_id, cent_id AS cell FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cent_id ASC) AS rn
                      FROM ac_c) WHERE rn = 1),
            p_c AS (SELECT cell, count(*) AS pop FROM a_c GROUP BY cell)
            SELECT 'uniform' AS dist, count(*)::bigint AS n_cells,
                   min(pop)::bigint AS min_pop, max(pop)::bigint AS max_pop,
                   sum(pop)::bigint AS n_vectors FROM p_u
            UNION ALL
            SELECT 'clustered' AS dist, count(*)::bigint AS n_cells,
                   min(pop)::bigint AS min_pop, max(pop)::bigint AS max_pop,
                   sum(pop)::bigint AS n_vectors FROM p_c
        """,
        "dedup_embedding_cosine_balanced": """
            -- the PLAIN unsplit within-cell pair join over the clustered
            -- vectors: matching hashes prove the balanced (sub-cell-split)
            -- Spark plan emits the bit-identical pair set
            WITH raw AS (SELECT vec_id,
                                list_transform(embedding, x -> x::double) AS v
                         FROM embeddings),
            nc AS (SELECT greatest(16, ceil(sqrt(count(*)))::bigint) AS n
                   FROM raw),
            base AS (SELECT vec_id AS c, v AS bv FROM raw WHERE vec_id < 8),
            e_c AS (SELECT r.vec_id,
                           list_transform(generate_series(1, len(r.v)),
                                          i -> 3.0 * b.bv[i] + r.v[i]) AS v
                    FROM raw r JOIN base b ON r.vec_id % 8 = b.c),
            c AS (SELECT vec_id AS cent_id, v AS cv FROM e_c
                  WHERE vec_id < (SELECT n FROM nc)),
            ac AS (SELECT e.vec_id, e.v, c.cent_id,
                          list_dot_product(e.v, c.cv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                   FROM e_c e, c),
            assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos_c DESC, cent_id ASC) AS rn FROM ac)
                WHERE rn = 1),
            pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                             list_dot_product(a.v, b.v)
                               / (sqrt(list_dot_product(a.v, a.v))
                                  * sqrt(list_dot_product(b.v, b.v))) AS cos
                      FROM assigned a JOIN assigned b
                        ON a.cell = b.cell AND a.vec_id < b.vec_id)
            SELECT vec_a, vec_b, round(cos, 4) AS cos_r
            FROM pairs WHERE cos >= 0.95
        """,
        "dedup_embedding_cosine": """
            -- centroid count mirrors ops._ivf_n_centroids: max(16, ceil(sqrt(n)))
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            c AS (SELECT vec_id AS cent_id, v AS cv FROM e
                  WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint)
                                  FROM e)),
            ac AS (
              SELECT e.vec_id, e.v, c.cent_id,
                     list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
              FROM e, c),
            assigned AS (
              SELECT vec_id, v, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos_c DESC, cent_id ASC) AS rn FROM ac)
              WHERE rn = 1),
            pairs AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))) AS cos
              FROM assigned a JOIN assigned b
                ON a.cell = b.cell AND a.vec_id < b.vec_id)
            SELECT vec_a, vec_b, round(cos, 4) AS cos_r
            FROM pairs WHERE cos >= 0.40
        """,
        "dedup_semantic_cc": """
            -- connected components (min-reachable-id fixpoint) over the
            -- embedding-cosine pair graph of dedup_embedding_cosine
            WITH RECURSIVE e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            c AS (SELECT vec_id AS cent_id, v AS cv FROM e
                  WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint)
                                  FROM e)),
            ac AS (
              SELECT e.vec_id, e.v, c.cent_id,
                     list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
              FROM e, c),
            assigned AS (
              SELECT vec_id, v, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos_c DESC, cent_id ASC) AS rn FROM ac)
              WHERE rn = 1),
            pairs AS (
              SELECT vec_a, vec_b FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))) AS cos
                FROM assigned a JOIN assigned b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id)
              WHERE cos >= 0.40),
            und AS (SELECT vec_a AS u, vec_b AS w FROM pairs
                    UNION ALL SELECT vec_b, vec_a FROM pairs),
            reach(vid, comp) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT u.u, r.comp FROM reach r JOIN und u ON u.w = r.vid
            ),
            lab AS (SELECT vid, min(comp) AS comp FROM reach GROUP BY vid)
            SELECT vid AS vec_id, comp AS cluster_id,
                   CASE WHEN vid = comp THEN 1 ELSE 0 END AS keep
            FROM lab
        """,
        "part_brand_revenue": """
            SELECT p_brand, p_type, count(*) AS n_items,
                   (sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::bigint))::bigint
                     AS revenue_cents,
                   max(p_size) AS max_size
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand, p_type
        """,
        "supplier_nation_rank": """
            WITH per_sup AS (
              SELECT n_name, s_suppkey, s_name,
                     (sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::bigint))::bigint
                       AS revenue_cents
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              GROUP BY n_name, s_suppkey, s_name)
            SELECT n_name, s_suppkey, s_name, revenue_cents, rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY n_name
                      ORDER BY revenue_cents DESC, s_suppkey ASC) AS rank
                  FROM per_sup)
            WHERE rank <= 3
        """,
        "embedding_ann_lsh": """
            -- full SQL mirror of ops.embedding_ann_lsh: the 8 hyperplanes
            -- are md5-derived ((int(md5('plane:p:d')[:8],16)/0x7FFFFFFF)-1),
            -- so DuckDB recomputes the identical bucket signatures
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            pl AS (
              SELECT p, list_transform(generate_series(0, 63), d ->
                         (('0x' || substr(md5('plane:' || p::varchar || ':'
                                              || d::varchar), 1, 8))::bigint
                          / 2147483647.0) - 1.0) AS w
              FROM (SELECT unnest(generate_series(0, 7)) AS p)),
            sig AS (
              SELECT e.vec_id,
                     string_agg(CASE WHEN list_dot_product(pl.w, e.v) >= 0
                                     THEN '1' ELSE '0' END, ''
                                ORDER BY pl.p) AS bucket
              FROM e, pl GROUP BY e.vec_id),
            eb AS (SELECT e.vec_id, e.v, s.bucket
                   FROM e JOIN sig s USING (vec_id)),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket
                  FROM eb WHERE vec_id < 5),
            cand AS (
              SELECT q.query_id, eb.vec_id,
                     list_dot_product(q.qv, eb.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(eb.v, eb.v))) AS cos
              FROM eb JOIN q ON eb.bucket = q.bucket
                            AND eb.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM cand)
            SELECT query_id, vec_id, rank, round(cos, 4) AS cos_r
            FROM ranked WHERE rank <= 3
        """,
        "embedding_ann_ivf": """
            -- centroid count mirrors ops._ivf_n_centroids: max(16, ceil(sqrt(n)))
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            c AS (SELECT vec_id AS cent_id, v AS cv FROM e
                  WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint)
                                  FROM e)),
            ac AS (
              SELECT e.vec_id, e.v, c.cent_id,
                     list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
              FROM e, c),
            assigned AS (
              SELECT vec_id, v, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos_c DESC, cent_id ASC) AS rn FROM ac)
              WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
            qc AS (
              SELECT q.query_id, q.qv, c.cent_id,
                     list_dot_product(q.qv, c.cv)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
              FROM q, c),
            probes AS (
              SELECT query_id, qv, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_c DESC, cent_id ASC) AS rn FROM qc)
              WHERE rn <= 2),
            cand AS (
              SELECT p.query_id, a.vec_id,
                     list_dot_product(p.qv, a.v)
                       / (sqrt(list_dot_product(p.qv, p.qv))
                          * sqrt(list_dot_product(a.v, a.v))) AS cos
              FROM assigned a JOIN probes p ON a.cell = p.cell
              WHERE a.vec_id <> p.query_id),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM cand)
            SELECT query_id, vec_id, rank, round(cos, 4) AS cos_r
            FROM ranked WHERE rank <= 3
        """,
        "embedding_ann_probe_sweep": """
            -- IVF probe-tuning table: recall@3 hits vs the exact top-3,
            -- swept over probes (1,2,3) x distribution (md5-uniform vs
            -- the mixture-of-shifted-blobs set derived as 3*base[vec_id%8]
            -- + vec). Queries sit OUTSIDE the codebook (vec_id 200..204):
            -- a centroid-query traps its neighbors in its own cell and
            -- reads recall ~1 at any probe count. Integer hit counts make
            -- the compare exact.
            WITH raw AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                         FROM embeddings),
            base AS (SELECT vec_id AS c, v AS bv FROM raw WHERE vec_id < 8),
            e_c AS (SELECT r.vec_id,
                           list_transform(generate_series(1, len(r.v)),
                                          i -> 3.0 * b.bv[i] + r.v[i]) AS v
                    FROM raw r JOIN base b ON r.vec_id % 8 = b.c),
            pb AS (SELECT unnest([1, 2, 3]) AS probes),
            
            cent_u AS (SELECT vec_id AS cent_id, v AS cv FROM raw
                       WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint) FROM raw)),
            ac_u AS (SELECT e.vec_id, e.v, c.cent_id,
                            list_dot_product(e.v, c.cv)
                              / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                     FROM raw e, cent_u c),
            a_u AS (SELECT vec_id, v, cent_id AS cell FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id ASC) AS rn
                      FROM ac_u) WHERE rn = 1),
            q_u AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE vec_id >= 200 AND vec_id < 205),
            exs_u AS (SELECT q.query_id, e.vec_id,
                             list_dot_product(q.qv, e.v)
                               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
                      FROM q_u q, raw e WHERE e.vec_id <> q.query_id),
            ex_u AS (SELECT query_id, vec_id FROM (
                       SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
                       FROM exs_u) WHERE rank <= 3),
            qc_u AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_c DESC, cent_id ASC) AS rn FROM (
                       SELECT q.query_id, q.qv, c.cent_id,
                              list_dot_product(q.qv, c.cv)
                                / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                       FROM q_u q, cent_u c)),
            cand_u AS (SELECT pb.probes, pr.query_id, a.vec_id,
                              list_dot_product(pr.qv, a.v)
                                / (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
                       FROM pb, qc_u pr JOIN a_u a ON a.cell = pr.cent_id
                       WHERE pr.rn <= pb.probes AND a.vec_id <> pr.query_id),
            top_u AS (SELECT probes, query_id, vec_id FROM (
                        SELECT *, row_number() OVER (PARTITION BY probes, query_id ORDER BY cos DESC, vec_id ASC) AS rank
                        FROM cand_u) WHERE rank <= 3),
            hits_u AS (SELECT pb.probes,
                              (SELECT count(*) FROM top_u t JOIN ex_u x
                                 ON t.query_id = x.query_id AND t.vec_id = x.vec_id
                               WHERE t.probes = pb.probes) AS n_hits
                       FROM pb),
            
            cent_c AS (SELECT vec_id AS cent_id, v AS cv FROM e_c
                       WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint) FROM e_c)),
            ac_c AS (SELECT e.vec_id, e.v, c.cent_id,
                            list_dot_product(e.v, c.cv)
                              / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                     FROM e_c e, cent_c c),
            a_c AS (SELECT vec_id, v, cent_id AS cell FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id ASC) AS rn
                      FROM ac_c) WHERE rn = 1),
            q_c AS (SELECT vec_id AS query_id, v AS qv FROM e_c WHERE vec_id >= 200 AND vec_id < 205),
            exs_c AS (SELECT q.query_id, e.vec_id,
                             list_dot_product(q.qv, e.v)
                               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
                      FROM q_c q, e_c e WHERE e.vec_id <> q.query_id),
            ex_c AS (SELECT query_id, vec_id FROM (
                       SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
                       FROM exs_c) WHERE rank <= 3),
            qc_c AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_c DESC, cent_id ASC) AS rn FROM (
                       SELECT q.query_id, q.qv, c.cent_id,
                              list_dot_product(q.qv, c.cv)
                                / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
                       FROM q_c q, cent_c c)),
            cand_c AS (SELECT pb.probes, pr.query_id, a.vec_id,
                              list_dot_product(pr.qv, a.v)
                                / (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
                       FROM pb, qc_c pr JOIN a_c a ON a.cell = pr.cent_id
                       WHERE pr.rn <= pb.probes AND a.vec_id <> pr.query_id),
            top_c AS (SELECT probes, query_id, vec_id FROM (
                        SELECT *, row_number() OVER (PARTITION BY probes, query_id ORDER BY cos DESC, vec_id ASC) AS rank
                        FROM cand_c) WHERE rank <= 3),
            hits_c AS (SELECT pb.probes,
                              (SELECT count(*) FROM top_c t JOIN ex_c x
                                 ON t.query_id = x.query_id AND t.vec_id = x.vec_id
                               WHERE t.probes = pb.probes) AS n_hits
                       FROM pb)
            
            SELECT 'uniform' AS dist, probes, n_hits, round(n_hits / 15.0, 4) AS recall FROM hits_u
            UNION ALL
            SELECT 'clustered' AS dist, probes, n_hits, round(n_hits / 15.0, 4) AS recall FROM hits_c
        """,
        "embedding_ann_recall": """
            -- recall@3 of the IVF index vs the brute-force exact top-3:
            -- both sides are the same CTE pipelines as their own oracles
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
            exact_scored AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(q.qv, e.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.v, e.v))) AS cos
              FROM q, e WHERE e.vec_id <> q.query_id),
            exact_top AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id ASC) AS rank
                FROM exact_scored) WHERE rank <= 3),
            c AS (SELECT vec_id AS cent_id, v AS cv FROM e
                  WHERE vec_id < (SELECT greatest(16, ceil(sqrt(count(*)))::bigint)
                                  FROM e)),
            ac AS (
              SELECT e.vec_id, e.v, c.cent_id,
                     list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
              FROM e, c),
            assigned AS (
              SELECT vec_id, v, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos_c DESC, cent_id ASC) AS rn FROM ac)
              WHERE rn = 1),
            qc AS (
              SELECT q.query_id, q.qv, c.cent_id,
                     list_dot_product(q.qv, c.cv)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS cos_c
              FROM q, c),
            probes AS (
              SELECT query_id, qv, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_c DESC, cent_id ASC) AS rn FROM qc)
              WHERE rn <= 2),
            cand AS (
              SELECT p.query_id, a.vec_id,
                     list_dot_product(p.qv, a.v)
                       / (sqrt(list_dot_product(p.qv, p.qv))
                          * sqrt(list_dot_product(a.v, a.v))) AS cos
              FROM assigned a JOIN probes p ON a.cell = p.cell
              WHERE a.vec_id <> p.query_id),
            approx_top AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id ASC) AS rank
                FROM cand) WHERE rank <= 3),
            hits AS (
              SELECT x.query_id, count(*) AS n_hits
              FROM exact_top x JOIN approx_top a
                ON x.query_id = a.query_id AND x.vec_id = a.vec_id
              GROUP BY x.query_id),
            base AS (SELECT query_id, count(*) AS n_exact
                     FROM exact_top GROUP BY query_id)
            SELECT b.query_id,
                   round(coalesce(h.n_hits, 0)::double / b.n_exact, 4) AS recall
            FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
        """,
        # media oracles recompute the synthetic metadata arithmetically from
        # media_id (htmlparser_spark/multimodal.py formulas) — matching values
        # prove the Spark side decoded the actual bytes correctly
        "media_decode": """
            WITH ids AS (SELECT unnest(generate_series(0, 399)) AS media_id),
            img AS (
              SELECT media_id, 16 + (media_id * 7919) % 240 AS w,
                     16 + (media_id * 104729) % 240 AS h,
                     1 + media_id % 3 AS c
              FROM ids WHERE media_id % 2 = 0),
            aud AS (
              SELECT media_id, 8000 + (media_id % 5) * 4000 AS sr,
                     1000 + (media_id * 31) % 9000 AS ns
              FROM ids WHERE media_id % 2 = 1)
            SELECT media_id, 'image' AS kind, w::int AS width, h::int AS height,
                   c::int AS channels, NULL::int AS sample_rate,
                   NULL::int AS n_samples,
                   least(w * h * c, 4096)::int AS payload_len
            FROM img
            UNION ALL
            SELECT media_id, 'audio', NULL, NULL, NULL, sr::int, ns::int,
                   least(ns * 2, 4096)::int
            FROM aud
        """,
        "media_image_resize": """
            WITH ids AS (SELECT unnest(generate_series(0, 399)) AS media_id),
            img AS (
              SELECT media_id, 16 + (media_id * 7919) % 240 AS w,
                     16 + (media_id * 104729) % 240 AS h,
                     1 + media_id % 3 AS c
              FROM ids WHERE media_id % 2 = 0),
            calc AS (
              SELECT media_id, w // 2 AS w2, h // 2 AS h2, c,
                     least(w * h * c, 4096) AS plen
              FROM img)
            SELECT media_id, w2::int AS out_w, h2::int AS out_h,
                   c::int AS channels,
                   least((plen + 3) // 4, w2 * h2 * c)::int AS out_len
            FROM calc
        """,
        "media_audio_frames": """
            WITH ids AS (SELECT unnest(generate_series(0, 399)) AS media_id),
            a AS (
              SELECT media_id, 1000 + (media_id * 31) % 9000 AS ns,
                     least((1000 + (media_id * 31) % 9000) * 2, 4096) AS plen
              FROM ids WHERE media_id % 2 = 1),
            fr AS (
              SELECT media_id, ns, plen,
                     unnest(generate_series(0, (ns - 1) // 1000)) AS frame_idx
              FROM a)
            SELECT media_id, frame_idx::int AS frame_idx,
                   greatest(0, least(plen - frame_idx * 2000,
                                     least(256, ns - frame_idx * 1000) * 2))::int
                     AS frame_bytes
            FROM fr
        """,
        "text_repetition": """
            -- Gopher-style repetition signals, mirroring ops.text_repetition:
            -- non-distinct word n-grams, two-level count aggregation
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            g2 AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
                   FROM (SELECT doc_id, ws,
                                unnest(generate_series(1, len(ws) - 1)) AS i
                         FROM w WHERE len(ws) >= 2)),
            g3 AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
                   FROM (SELECT doc_id, ws,
                                unnest(generate_series(1, len(ws) - 2)) AS i
                         FROM w WHERE len(ws) >= 3)),
            c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2
                   GROUP BY doc_id, gram),
            c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3
                   GROUP BY doc_id, gram),
            top2 AS (SELECT doc_id,
                            round(max(c)::double / sum(c), 4) AS top2gram_frac
                     FROM c2 GROUP BY doc_id),
            dup3 AS (SELECT doc_id,
                            round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::double
                                  / sum(c), 4) AS dup3gram_frac
                     FROM c3 GROUP BY doc_id)
            SELECT doc_id, top2gram_frac, dup3gram_frac
            FROM top2 JOIN dup3 USING (doc_id)
        """,
        "corpus_host_cap": f"""
            -- per-source quality-ranked top-10, mirroring ops.corpus_host_cap
            -- (shared quality-score CTE, identical to the text_quality oracle)
            WITH {_QUALITY_SCORE_CTE},
            ranked AS (SELECT doc_id, source, quality_score,
                              row_number() OVER (
                                  PARTITION BY source
                                  ORDER BY quality_score DESC, doc_id ASC)::int
                                AS host_rank
                       FROM qscore)
            SELECT doc_id, source, quality_score, host_rank
            FROM ranked WHERE host_rank <= 10
        """,
        "corpus_decontaminate": """
            -- eval-set word-4-gram overlap, mirroring ops.corpus_decontaminate
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            g AS (SELECT DISTINCT doc_id,
                                  array_to_string(ws[i:i+3], ' ') AS gram
                  FROM (SELECT doc_id, ws,
                               unnest(generate_series(1, len(ws) - 3)) AS i
                        FROM w WHERE len(ws) >= 4)),
            ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
            SELECT doc_id, count(*) AS n_shared
            FROM g JOIN ev USING (gram)
            WHERE doc_id % 50 <> 0
            GROUP BY doc_id
        """,
        "dedup_cluster_cc": f"""
            -- connected components over the minhash-LSH pair set: the
            -- recursive CTE computes min-reachable-id per node (DuckDB's
            -- fixpoint UNION), mirroring the large-star/small-star result
            WITH RECURSIVE {_CC_LAB_CTE}
            SELECT doc AS doc_id, comp AS cluster_id,
                   CASE WHEN doc = comp THEN 1 ELSE 0 END AS keep
            FROM lab
        """,
        "dedup_cluster_keep_best": f"""
            -- same CC labels, but the survivor per cluster is the
            -- highest-quality doc (rounded score, ties -> lowest doc_id)
            WITH RECURSIVE {_CC_LAB_CTE}, {_QUALITY_SCORE_CTE},
            ranked AS (SELECT l.doc AS doc_id, l.comp AS cluster_id,
                              q2.quality_score,
                              row_number() OVER (
                                  PARTITION BY l.comp
                                  ORDER BY q2.quality_score DESC,
                                           l.doc ASC) AS rn
                       FROM lab l JOIN qscore q2 ON q2.doc_id = l.doc)
            SELECT doc_id, cluster_id, quality_score,
                   CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
            FROM ranked
        """,
        "corpus_badwords_filter": f"""
            -- blocked-word ratio filter; the keep rule is the pure
            -- integer inequality n_blocked*100 <= n_words*{ops.BADWORDS_MAX_PCT}
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws
                       FROM documents),
            n AS (SELECT doc_id,
                         len(ws) AS n_words,
                         len(list_filter(ws, x -> list_contains(
                             [{", ".join(f"'{b}'" for b in ops.BADWORDS)}],
                             x))) AS n_blocked
                  FROM w)
            SELECT doc_id, n_words, n_blocked,
                   CASE WHEN n_blocked * 100
                             <= n_words * {ops.BADWORDS_MAX_PCT}
                        THEN 1 ELSE 0 END AS keep
            FROM n
        """,
        "dedup_incremental": f"""
            -- new-batch (doc_id % 5 = 0) vs history band-signature probe,
            -- mirroring ops.dedup_incremental (hash chain identical to the
            -- dedup_minhash_lsh oracle)
            WITH {_SHINGLES_CTE},
            mh AS (
              SELECT doc_id, k,
                     min(('0x' || substr(md5((k // 4)::varchar || ':' || shingle),
                                         1 + (k % 4) * 8, 8))::bigint) AS mh
              FROM (SELECT doc_id, shingle,
                           unnest(generate_series(0, 15)) AS k FROM sh)
              GROUP BY doc_id, k),
            sig AS (
              SELECT doc_id, (k // 4) AS band,
                     string_agg(mh::varchar, '-' ORDER BY k) AS sig
              FROM mh GROUP BY doc_id, (k // 4)),
            cand AS (
              SELECT DISTINCT o.doc_id AS old_id, n.doc_id AS new_id
              FROM sig o JOIN sig n ON o.band = n.band AND o.sig = n.sig
              WHERE o.doc_id % 5 <> 0 AND n.doc_id % 5 = 0),
            inter AS (
              SELECT c.old_id, c.new_id, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.old_id
              JOIN sh b ON b.doc_id = c.new_id AND a.shingle = b.shingle
              GROUP BY c.old_id, c.new_id),
            ver AS (
              SELECT new_id, min(old_id) AS dup_of
              FROM inter
              JOIN sz sa ON sa.doc_id = old_id
              JOIN sz sb ON sb.doc_id = new_id
              WHERE round(inter::double / (sa.sz + sb.sz - inter), 6) >= 0.5
              GROUP BY new_id)
            SELECT d.doc_id, ver.dup_of,
                   CASE WHEN ver.dup_of IS NULL THEN 0 ELSE 1 END AS is_dup
            FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
            LEFT JOIN ver ON ver.new_id = d.doc_id
        """,
        "corpus_url_filter": """
            -- UT1-style URL filtering: same deterministic messy-URL
            -- synthesis and rule set as ops.corpus_url_filter
            WITH u AS (
              SELECT doc_id,
                     'http://' || source || '.example.com/'
                     || (CASE WHEN doc_id % 11 = 0 THEN 'tag/' ELSE 'p/' END)
                     || (doc_id % 100)::varchar
                     || (CASE WHEN doc_id % 17 = 0
                              THEN '/91234567890123456789' ELSE '' END)
                     || (CASE WHEN doc_id % 13 = 0
                              THEN '?a=1&b=2&c=3&d=4' ELSE '' END)
                     || (CASE WHEN doc_id % 23 = 0
                              THEN '?ref=' || repeat('x', 110)
                              ELSE '' END) AS url,
                     source || '.example.com' AS host
              FROM documents),
            r AS (
              SELECT doc_id, url,
                     list_sort(list_filter([
                       CASE WHEN host IN ('src3.example.com',
                                          'src7.example.com',
                                          'src11.example.com')
                            THEN 'blocklist' END,
                       CASE WHEN regexp_matches(url, '/(tag|search)/')
                            THEN 'path_keyword' END,
                       CASE WHEN length(url)
                                  - length(replace(url, '=', '')) > 3
                            THEN 'too_many_params' END,
                       CASE WHEN (length(url) - length(
                                    regexp_replace(url, '[0-9]', '', 'g')
                                  ))::double / length(url) > 0.2
                            THEN 'digit_heavy' END,
                       CASE WHEN length(url) > 120 THEN 'too_long' END],
                       x -> x IS NOT NULL)) AS rules
              FROM u)
            SELECT doc_id, url,
                   coalesce(array_to_string(rules, ','), '')
                     AS reject_reasons,
                   CASE WHEN len(rules) = 0 THEN 1 ELSE 0 END AS keep
            FROM r
        """,
        "dedup_bloom": """
            -- Bloom membership of the new batch (doc_id % 5 = 0) against
            -- history: m=8192 bits, k=3 portable-md5 hashes of md5(text);
            -- is_dup = exact content match (ground truth)
            WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
            hist_bits AS (
              SELECT DISTINCT
                     ('0x' || substr(md5('bloom' || j::varchar || ':' || h),
                              1, 8))::bigint % 8192 AS pos
              FROM d, unnest(generate_series(0, 2)) AS t(j)
              WHERE doc_id % 5 <> 0),
            new_pos AS (
              SELECT doc_id, h,
                     ('0x' || substr(md5('bloom' || j::varchar || ':' || h),
                              1, 8))::bigint % 8192 AS pos
              FROM d, unnest(generate_series(0, 2)) AS t(j)
              WHERE doc_id % 5 = 0),
            bloom AS (
              SELECT doc_id, h,
                     CASE WHEN sum(CASE WHEN hist_bits.pos IS NOT NULL
                                        THEN 1 ELSE 0 END) = 3
                          THEN 1 ELSE 0 END AS maybe_dup
              FROM new_pos LEFT JOIN hist_bits USING (pos)
              GROUP BY doc_id, h)
            SELECT doc_id, maybe_dup,
                   CASE WHEN h IN (SELECT h FROM d WHERE doc_id % 5 <> 0)
                        THEN 1 ELSE 0 END AS is_dup
            FROM bloom
        """,
        "text_quality_classifier": """
            -- frozen hashed-BoW linear classifier: bucket = md5 % 1024,
            -- weight regenerated from the bucket id's hash, sigmoid(4·mean)
            WITH weights AS (
              SELECT b, ((('0x' || substr(md5('qcw:' || b::varchar),
                                  1, 8))::bigint % 2001 - 1000)::double
                         / 1000.0) AS w
              FROM (SELECT unnest(generate_series(0, 1023)) AS b)),
            tb AS (
              SELECT doc_id,
                     ('0x' || substr(md5('qc:' || tok), 1, 8))::bigint
                       % 1024 AS b,
                     count(*) AS k
              FROM (SELECT doc_id, unnest(list_filter(
                               string_split(text, ' '), x -> x <> ''))
                               AS tok
                    FROM documents)
              GROUP BY doc_id, b),
            s AS (
              SELECT doc_id, sum(k)::bigint AS n_tokens,
                     sum(k * w) / sum(k) AS s
              FROM tb JOIN weights USING (b) GROUP BY doc_id)
            SELECT doc_id, n_tokens,
                   round(1.0 / (1.0 + exp(-4.0 * s)), 6) AS quality_p,
                   CASE WHEN round(1.0 / (1.0 + exp(-4.0 * s)), 6) >= 0.5
                        THEN 1 ELSE 0 END AS label_keep
            FROM s
        """,
        "text_line_dedup": """
            -- C4 global line dedup: 10-word non-overlapping chunk "lines",
            -- any line occurring >= 3 times corpus-wide removed everywhere
            WITH w AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws
                       FROM documents),
            lines AS (
              SELECT doc_id, i,
                     md5(array_to_string(ws[i*10+1 : i*10+10], ' ')) AS lh
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(
                               0, ceil(len(ws) / 10.0)::int - 1)) AS i
                    FROM w WHERE len(ws) > 0)),
            dup AS (SELECT lh FROM lines GROUP BY lh
                    HAVING count(*) >= 3),
            rm AS (SELECT doc_id, list(DISTINCT i) AS rm
                   FROM lines JOIN dup USING (lh) GROUP BY doc_id)
            SELECT w.doc_id,
                   ceil(len(ws) / 10.0)::int AS n_lines,
                   coalesce(len(rm), 0)::int AS n_removed_lines,
                   md5(coalesce(array_to_string(
                       list_filter(list_transform(
                           generate_series(1, len(ws)),
                           j -> CASE WHEN rm IS NULL
                                      OR NOT list_contains(rm, (j-1) // 10)
                                THEN ws[j] END),
                           x -> x IS NOT NULL), ' '), '')) AS clean_md5
            FROM w LEFT JOIN rm USING (doc_id)
        """,
        "corpus_ppl_buckets": """
            -- CCNet head/middle/tail: exact per-lang ppl terciles via
            -- ntile(3) over (ppl, doc_id); ppl = the text_lm_perplexity
            -- number (same LM, same rounding)
            WITH w AS (SELECT doc_id, lang,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws
                       FROM documents),
            g0 AS (SELECT doc_id, lang, unnest(ws) AS tok FROM w),
            g AS (SELECT doc_id, lang,
                         ('0x' || substr(md5('lm:' || tok), 1, 8))::bigint
                           % 4096 AS b
                  FROM g0),
            lm AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en'
                   GROUP BY b),
            tot AS (SELECT sum(c) AS t FROM lm),
            pd AS (SELECT doc_id, b, count(*) AS k FROM g
                   GROUP BY doc_id, b),
            s AS (SELECT doc_id, k,
                         -log2((coalesce(c, 0) + 1)::double / (t + 4096))
                           AS nll
                  FROM pd LEFT JOIN lm USING (b), tot),
            h AS (SELECT doc_id,
                         round(pow(2, round(sum(k * nll) / sum(k), 6)), 4)
                           AS ppl
                  FROM s GROUP BY doc_id),
            t AS (SELECT h.doc_id, d.lang, h.ppl,
                         ntile(3) OVER (PARTITION BY d.lang
                                        ORDER BY h.ppl, h.doc_id) AS t
                  FROM h JOIN documents d ON d.doc_id = h.doc_id)
            SELECT doc_id, lang, ppl,
                   CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                          ELSE 'tail' END AS bucket
            FROM t
        """,
        "host_pagerank": """
            -- fixed-point PageRank (units 1e-12, integer div) over the
            -- synthesized host graph: edge a->b iff md5 hash % 4 = 0;
            -- d=0.85 as 85/100 integer ops; 4 power iterations
            WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
            n AS (SELECT count(*) AS n FROM hosts),
            edges AS (
              SELECT a.host AS src, b.host AS dst
              FROM hosts a, hosts b
              WHERE a.host <> b.host
                AND ('0x' || substr(md5('link:' || a.host || '>'
                                        || b.host), 1, 8))::bigint
                    % 4 = 0),
            outdeg AS (SELECT src, count(*) AS deg FROM edges
                       GROUP BY src),
            r0 AS (SELECT host, 1000000000000 // n AS r FROM hosts, n),
            r1 AS (SELECT h.host,
                          (1000000000000 * 15 // 100) // n
                          + 85 * coalesce(a.s, 0) // 100 AS r
                   FROM hosts h LEFT JOIN (
                     SELECT e.dst AS host, sum(r.r // d.deg)::bigint AS s
                     FROM edges e JOIN r0 r ON r.host = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst
                   ) a ON a.host = h.host, n),
            r2 AS (SELECT h.host,
                          (1000000000000 * 15 // 100) // n
                          + 85 * coalesce(a.s, 0) // 100 AS r
                   FROM hosts h LEFT JOIN (
                     SELECT e.dst AS host, sum(r.r // d.deg)::bigint AS s
                     FROM edges e JOIN r1 r ON r.host = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst
                   ) a ON a.host = h.host, n),
            r3 AS (SELECT h.host,
                          (1000000000000 * 15 // 100) // n
                          + 85 * coalesce(a.s, 0) // 100 AS r
                   FROM hosts h LEFT JOIN (
                     SELECT e.dst AS host, sum(r.r // d.deg)::bigint AS s
                     FROM edges e JOIN r2 r ON r.host = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst
                   ) a ON a.host = h.host, n),
            r4 AS (SELECT h.host,
                          (1000000000000 * 15 // 100) // n
                          + 85 * coalesce(a.s, 0) // 100 AS r
                   FROM hosts h LEFT JOIN (
                     SELECT e.dst AS host, sum(r.r // d.deg)::bigint AS s
                     FROM edges e JOIN r3 r ON r.host = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst
                   ) a ON a.host = h.host, n)
            SELECT host, r AS rank_fp FROM r4
        """,
        "text_gopher_rules": """
            -- Gopher quality rules (Rae et al. 2021 table A1 subset):
            -- word count 50..100k, mean word length 3..10, symbol ratio
            -- ('#' + '...') <= 0.1, >= 80% alphabetic words, >= 2 required
            -- stopwords, <= 90% bullet-start lines, <= 30% ellipsis-end
            -- lines
            WITH w AS (SELECT doc_id, text,
                              list_filter(string_split(text, ' '),
                                          x -> x <> '') AS ws,
                              list_filter(string_split(text, chr(10)),
                                          l -> l <> '') AS ls
                       FROM documents),
            calc AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     coalesce(list_sum(list_transform(ws, x -> length(x))),
                              0)::double / greatest(len(ws), 1) AS awl,
                     ((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', '')))
                        // 3)::double / greatest(len(ws), 1) AS sr,
                     len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                       ::double / greatest(len(ws), 1) AS af,
                     len(list_filter(ws, x -> list_contains(
                         ['the','be','to','of','and','that','have','with'],
                         x))) AS sh,
                     len(list_filter(ls, l -> regexp_matches(
                         l, '^(•|- |\\* )')))::double
                       / greatest(len(ls), 1) AS bf,
                     len(list_filter(ls, l -> regexp_matches(
                         l, '(\\.\\.\\.|…)$')))::double
                       / greatest(len(ls), 1) AS ef
              FROM w),
            r AS (SELECT *, list_sort(list_filter([
                    CASE WHEN n_words < 50 OR n_words > 100000
                         THEN 'word_count' END,
                    CASE WHEN awl < 3.0 OR awl > 10.0
                         THEN 'mean_word_len' END,
                    CASE WHEN sr > 0.1 THEN 'symbol_ratio' END,
                    CASE WHEN af < 0.80 THEN 'alpha_frac' END,
                    CASE WHEN sh < 2 THEN 'stopwords' END,
                    CASE WHEN bf > 0.90 THEN 'bullet_lines' END,
                    CASE WHEN ef > 0.30 THEN 'ellipsis_lines' END],
                    x -> x IS NOT NULL)) AS rules
                  FROM calc)
            SELECT doc_id, n_words, round(awl, 4) AS mean_word_len,
                   round(sr, 4) AS symbol_ratio, round(af, 4) AS alpha_frac,
                   round(bf, 4) AS bullet_line_frac,
                   round(ef, 4) AS ellipsis_line_frac,
                   sh AS req_stop_hits,
                   coalesce(array_to_string(rules, ','), '')
                     AS reject_reasons,
                   CASE WHEN len(rules) = 0 THEN 1 ELSE 0 END AS keep
            FROM r
        """,
        "corpus_robots_filter": f"""
            -- RFC 9309 longest-match robots filtering: same deterministic
            -- path synthesis and rule set as ops.corpus_robots_filter
            -- (rules inlined from ops._robots_rules());
            -- priority = len(prefix)*2 + allow, ties resolve to allow
            WITH rules(host, prefix, allow) AS (VALUES
                {", ".join(f"('{h}', '{p}', {a})"
                           for h, p, a in ops._robots_rules())}),
            d AS (SELECT doc_id, source || '.example.com' AS host,
                         (CASE WHEN doc_id % 11 = 0
                               THEN '/tag/' ELSE '/p/' END)
                         || (doc_id % 100)::varchar AS path
                  FROM documents),
            m AS (SELECT d.doc_id, d.host, d.path,
                         count(r.prefix) AS n_rules_matched,
                         max(length(r.prefix) * 2 + r.allow) AS best
                  FROM d LEFT JOIN rules r
                    ON d.host = r.host AND starts_with(d.path, r.prefix)
                  GROUP BY d.doc_id, d.host, d.path)
            SELECT doc_id, host, path, n_rules_matched,
                   coalesce(best // 2, 0)::bigint AS best_prefix_len,
                   coalesce(best % 2, 1)::int AS allowed
            FROM m
        """,
        "corpus_surt_keys": """
            -- SURT keys: same deterministic messy-URL synthesis as the
            -- Spark query; the transform itself (lowercase host, reversed
            -- comma-joined labels, ')' + lowercased path?query) is
            -- recomputed with DuckDB list functions, not string literals
            WITH u AS (
              SELECT doc_id,
                     'https://WWW.' || source || '.Example.com/Page/'
                     || (doc_id % 100)::varchar
                     || (CASE WHEN doc_id % 9 = 0 THEN '?Q=Abc'
                              ELSE '' END) AS url,
                     lower('www.' || source || '.example.com') AS host,
                     '/page/' || (doc_id % 100)::varchar AS path,
                     CASE WHEN doc_id % 9 = 0 THEN 'q=abc' END AS query
              FROM documents)
            SELECT doc_id, url,
                   array_to_string(list_reverse(string_split(host, '.')),
                                   ',')
                   || ')' || path
                   || coalesce('?' || query, '') AS surt
            FROM u
        """,
        "embedding_kmeans": f"""
            -- two exact Lloyd rounds (fixed-point int64); summary = final
            -- assignment's population + inertia joined to the round-2
            -- centroids' component-sum fingerprint
            WITH {_KMEANS_CTE}
            SELECT p.cell, p.n, p.inertia, cs.cent_sum
            FROM (SELECT cell, count(*) AS n,
                         CAST(sum(dist) AS bigint) AS inertia
                  FROM a1 GROUP BY cell) p
            JOIN (SELECT cent_id AS cell,
                         CAST(list_sum(cx) AS bigint) AS cent_sum
                  FROM c2) cs USING (cell)
        """,
        "corpus_prototype_prune": f"""
            -- keep the ceil(0.5*pop) LEAST prototypical (largest distance
            -- to own centroid) per cluster, ties on vec_id — over the same
            -- round-2 assignment the Spark operator ranks
            WITH {_KMEANS_CTE}
            SELECT vec_id, cell, dist, rank FROM (
              SELECT vec_id, cell, dist,
                     row_number() OVER (PARTITION BY cell
                                ORDER BY dist DESC, vec_id ASC) AS rank,
                     count(*) OVER (PARTITION BY cell) AS pop
              FROM a1)
            WHERE rank <= ceil(0.5 * pop)
        """,
        "embedding_pq_encode": f"""
            WITH {_PQ_CTE}
            SELECT vec_id, sub, code, sqdist FROM codes
        """,
        "embedding_pq_topk": f"""
            -- ADC: per-query (sub, code) partial-distance table joined
            -- against the codes, summed, top-3 by exact integer distance
            WITH {_PQ_CTE}, {_PQ_TOPK_CTE}
            SELECT query_id, vec_id, rank, adist FROM topk
        """,
        "embedding_pq_recall": f"""
            -- hits of the ADC top-3 vs the exact integer-L2 top-3 (same
            -- metric PQ approximates)
            WITH {_PQ_CTE}, {_PQ_TOPK_CTE},
            exd AS (SELECT q.vec_id AS query_id, t.vec_id,
                           CAST(list_sum(list_transform(
                                generate_series(1, 64),
                                i -> (q.x[i] - t.x[i]) * (q.x[i] - t.x[i])))
                                AS bigint) AS dist
                    FROM e q, e t
                    WHERE q.vec_id < 5 AND t.vec_id <> q.vec_id),
            ex AS (SELECT query_id, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
                     FROM exd)
                   WHERE rank <= 3),
            hits AS (SELECT query_id, count(*) AS n_hits
                     FROM ex JOIN topk USING (query_id, vec_id)
                     GROUP BY query_id),
            base AS (SELECT query_id, count(*) AS n_exact
                     FROM ex GROUP BY query_id)
            SELECT b.query_id, coalesce(h.n_hits, 0)::bigint AS n_hits,
                   b.n_exact
            FROM base b LEFT JOIN hits h USING (query_id)
        """,
        "embedding_pq_recall_trained": f"""
            -- recall@10 of the ADC scan with the TRAINED codebook: the
            -- two per-subspace Lloyd training rounds replay in SQL
            -- (argmin assign, floor-mean update, empty codes kept),
            -- queries OUTSIDE the training window (vec_id 200..229)
            WITH {_PQ_CTE}, {_PQ_TRAIN_CTE},
            tq AS (SELECT e.vec_id AS query_id, s.sub,
                          list_slice(e.x, s.sub * 16 + 1, s.sub * 16 + 16)
                            AS qx
                   FROM e, s WHERE e.vec_id >= 200 AND e.vec_id < 230),
            tadc AS (SELECT tq.query_id, tq.sub, c.code,
                            CAST(list_sum(list_transform(
                                 generate_series(1, 16),
                                 i -> (tq.qx[i] - c.cx[i])
                                      * (tq.qx[i] - c.cx[i])))
                                 AS bigint) AS pdist
                     FROM tq JOIN cb2t c ON tq.sub = c.sub),
            tcand AS (SELECT a.query_id, c.vec_id,
                             CAST(sum(a.pdist) AS bigint) AS adist
                      FROM tcodes c
                      JOIN tadc a ON c.sub = a.sub AND c.code = a.code
                      WHERE c.vec_id <> a.query_id
                      GROUP BY a.query_id, c.vec_id),
            ttopk AS (SELECT query_id, vec_id FROM (
                        SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist ASC, vec_id ASC) AS rank
                        FROM tcand)
                      WHERE rank <= 10),
            texd AS (SELECT q.vec_id AS query_id, t.vec_id,
                            CAST(list_sum(list_transform(
                                 generate_series(1, 64),
                                 i -> (q.x[i] - t.x[i]) * (q.x[i] - t.x[i])))
                                 AS bigint) AS dist
                     FROM e q, e t
                     WHERE q.vec_id >= 200 AND q.vec_id < 230
                       AND t.vec_id <> q.vec_id),
            tex AS (SELECT query_id, vec_id FROM (
                      SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, vec_id ASC) AS rank
                      FROM texd)
                    WHERE rank <= 10),
            thits AS (SELECT query_id, count(*) AS n_hits
                      FROM tex JOIN ttopk USING (query_id, vec_id)
                      GROUP BY query_id),
            tbase AS (SELECT query_id, count(*) AS n_exact
                      FROM tex GROUP BY query_id)
            SELECT b.query_id, coalesce(h.n_hits, 0)::bigint AS n_hits,
                   b.n_exact
            FROM tbase b LEFT JOIN thits h USING (query_id)
        """,
        "events_range_join": f"""
            -- clicks in the hour before each purchase (same user): the
            -- plain SQL range join the bucketed Spark plan must equal
            WITH p AS (SELECT event_id AS purchase_id, user_id,
                              epoch_us(ts) AS p_us
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, epoch_us(ts) AS c_us
                  FROM events WHERE event_type = 'click'),
            m AS (SELECT p.purchase_id, count(*) AS n_clicks,
                         min(p.p_us - c.c_us) AS min_gap_us
                  FROM p JOIN c ON p.user_id = c.user_id
                   AND c.c_us >= p.p_us - {ops.RANGE_WINDOW_MIN * 60 * 1_000_000}
                   AND c.c_us < p.p_us
                  GROUP BY p.purchase_id)
            SELECT p.purchase_id, p.user_id,
                   coalesce(m.n_clicks, 0) AS n_clicks, m.min_gap_us
            FROM p LEFT JOIN m USING (purchase_id)
        """,
        "corpus_distinct_kmv": f"""
            -- K-minimum-values distinct sketch, bit-exact mirror: portable
            -- 32-bit hash, k-th smallest distinct value per source,
            -- estimate = floor((k-1) * 2^32 / kth_min)
            WITH h AS (SELECT DISTINCT source,
                              ('0x' || substr(md5('kmv' || ':' || text),
                                              1, 8))::bigint AS h
                       FROM documents),
            stats AS (SELECT source, count(*) AS n_exact
                      FROM h GROUP BY source),
            kth AS (SELECT source, h AS kth_min FROM (
                      SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY h ASC) AS rn FROM h)
                    WHERE rn = {ops.KMV_K}),
            est AS (SELECT s.source, s.n_exact, k2.kth_min,
                           CAST(CASE WHEN k2.kth_min IS NULL THEN s.n_exact
                                ELSE floor(({ops.KMV_K - 1} * 4294967296.0)
                                           / k2.kth_min)
                                END AS bigint) AS est_distinct
                    FROM stats s LEFT JOIN kth k2 USING (source))
            SELECT source, n_exact, kth_min, est_distinct FROM est
        """,
        "embedding_ann_ivfpq": f"""
            -- composed IVF-PQ: L2 cell assignment, 2-cell probes, ADC
            -- ranking over probed cells' codes only
            WITH {_PQ_CTE}, {_IVFPQ_TOPK_CTE}
            SELECT query_id, vec_id, rank, adist FROM itopk
        """,
        "embedding_ann_ivfpq_recall": f"""
            -- hits of the composed index's top-3 vs the exact integer-L2
            -- top-3: cell-miss + quantization loss together
            WITH {_PQ_CTE}, {_IVFPQ_TOPK_CTE},
            exd AS (SELECT q2.vec_id AS query_id, t.vec_id,
                           CAST(list_sum(list_transform(
                                generate_series(1, 64),
                                i -> (q2.x[i] - t.x[i])
                                     * (q2.x[i] - t.x[i])))
                                AS bigint) AS dist
                    FROM e q2, e t
                    WHERE q2.vec_id < 5 AND t.vec_id <> q2.vec_id),
            ex AS (SELECT query_id, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
                     FROM exd)
                   WHERE rank <= 3),
            hits AS (SELECT query_id, count(*) AS n_hits
                     FROM ex JOIN itopk USING (query_id, vec_id)
                     GROUP BY query_id),
            base AS (SELECT query_id, count(*) AS n_exact
                     FROM ex GROUP BY query_id)
            SELECT b.query_id, coalesce(h.n_hits, 0)::bigint AS n_hits,
                   b.n_exact
            FROM base b LEFT JOIN hits h USING (query_id)
        """,
    }
