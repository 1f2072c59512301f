"""Structured Streaming variant of the extraction pipeline.

A crawl is naturally a stream of WARC drops: new page files land in a
directory (or Kafka/Iceberg CDC in prod) and the extractor keeps up
incrementally. The streaming plan reuses the EXACT batch kernel stage —
``pipeline.job.parse_pages`` is a stateless mapInPandas, so it is legal on a
streaming DataFrame — plus:

  - file-source scan with ``maxFilesPerTrigger`` back-pressure (S1-stream),
  - the same url-hash partitioning expression (S3) computed per micro-batch,
  - exactly-once parquet sink via checkpointed file-sink commit log (S10),
  - watermarked tumbling-window error-counter aggregation (S8-stream):
    late pages beyond the watermark are dropped deterministically,
  - a stateful streaming aggregate: per-host running crawl stats (pages,
    bytes, error pages seen so far) — the streaming analogue of a
    hypertable rollup.

Scale shape: each micro-batch is a normal Spark job, so everything said in
pipeline/job.py about partitioning, salting, and skew applies per batch; the
stateful host rollup shuffles on `host`, whose cardinality (millions) dwarfs
executor count, and state is RocksDB-backed on a real cluster
(spark.sql.streaming.stateStore.providerClass).
"""
from __future__ import annotations

import json
import os
import re
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._rowmap import flat_map, local_frame, one_row
from ..ops import BLOOM_M, bloom_bits, bloom_probe
from ..pipeline.job import (
    explode_pages, hadoop_path, jvm_class, parse_pages, with_part_key)
from ..pipeline.schema import PAGES_SCHEMA, PARSED_SCHEMA


def read_page_stream(spark: SparkSession, src_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """S1-stream: file-source scan of page parquet drops."""
    reader = (spark.readStream.schema(PAGES_SCHEMA)
              # crawl drops arrive as whole directories (one per WARC dump)
              .option("recursiveFileLookup", "true"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def read_rate_page_stream(spark: SparkSession, rows_per_second: int = 200,
                          partitions: int = 2, seed: int = 42) -> DataFrame:
    """Non-file unbounded source: Spark's built-in ``rate`` source emits
    (timestamp, value) rows at a fixed rate with backpressure knobs —
    the in-sandbox stand-in for a Kafka topic (no broker exists here).
    Pages are synthesized DETERMINISTICALLY from ``value`` through the same
    generator as the batch synth corpus, so for any consumed value range the
    stream's contents are reproducible. Going live is a two-line swap:
    ``format("kafka") + options`` in place of ``format("rate")``, and a
    (key, value)->page decode in place of the ``value``->page generator
    (stateless per-row, so legal on a stream) — everything downstream
    (kernel, sinks, watermarks, stateful rollups) is source-agnostic."""
    from ..synth import gen_page
    raw = (spark.readStream.format("rate")
           .option("rowsPerSecond", rows_per_second)
           .option("numPartitions", partitions).load())
    return flat_map(raw, partial(one_row, gen_page, seed), ["value"],
                    PAGES_SCHEMA)


def parse_page_stream(pages: DataFrame, extract: bool = True,
                      transcode: bool = False) -> DataFrame:
    """S5 on a stream: identical kernel, identical output schema.

    transcode: same fused charset pass as the batch pipeline — the sniff
    columns are stateless per-row codegen and the re-encode lives inside
    the kernel stage, so it is legal on a streaming DataFrame and adds
    nothing to the plan beyond the scan projection."""
    if transcode:
        from ..sources.charset import with_sniffed_encoding
        pages = with_sniffed_encoding(pages).drop("method")
    # raw-content fingerprint, same contract as the batch pipeline
    # (pipeline/job.py run_pipeline): computed JVM-side on the RAW capture
    # bytes (before any in-kernel transcode rebinding) and passed through
    # the kernel. Without it every streamed row carries content_hash = 0
    # and the Bloom dedup drain degenerates to flag-everything.
    with_key = with_part_key(pages).withColumn("content_hash",
                                               F.xxhash64("html"))
    return parse_pages(with_key, extract=extract)


def write_parsed_stream(parsed: DataFrame, out_dir: str, sink: str = "parsed"):
    """S10-stream: start an availableNow query into the exactly-once parquet
    sink ``out_dir/<sink>`` (file-sink commit log in the checkpoint dir
    makes re-runs idempotent). Each sink keeps its own checkpoint, so the
    parsed and links streams run and recover separately."""
    ckpt = "_checkpoint" if sink == "parsed" else f"_{sink}_checkpoint"
    return (parsed.writeStream
            .format("parquet")
            .option("path", os.path.join(out_dir, sink))
            .option("checkpointLocation", os.path.join(out_dir, ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def dedup_page_stream(pages: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """S6-stream: drop re-deliveries of the same page snapshot across
    micro-batches. Keyed on (url, content_hash = xxhash64(html)) — the same
    (url, bytes) snapshot delivered twice (at-least-once WARC drops,
    retried upstream ingests) parses once; a genuine re-crawl of the url
    with different bytes still flows through. dropDuplicatesWithinWatermark
    bounds the dedup state by the event-time watermark: a key's state is
    evicted once the watermark passes it, so state size tracks the
    re-delivery horizon, not the crawl's lifetime — the property that keeps
    the stream runnable indefinitely at crawl scale (state lives in the
    RocksDB store on a real cluster)."""
    return (pages
            .withColumn("content_hash", F.xxhash64("html"))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url", "content_hash"])
            .drop("content_hash"))


def error_window_stream(parsed: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """S8-stream: watermarked tumbling-window status counters. Append mode
    emits a window only once the watermark passes it — deterministic late-data
    policy instead of unbounded state."""
    return (parsed
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), F.col("status"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_errors").alias("n_errors"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "status", "n", "n_errors"))


# --- stateful aggregate: per-host running crawl stats -----------------------

def host_expr():
    """Host state-group key from a url. No trailing '/' required:
    'https://host.example' (no path) must still yield its host, not
    collapse into the '' state group; scheme match is case-insensitive
    (RFC 3986 §3.1 — 'HTTPS://x' is a valid URL and must not collapse
    into the '' group either), and the extracted host is lowercased
    (§3.2.2: host comparison is case-insensitive) so 'Example.com' and
    'example.com' share one state group."""
    return F.lower(
        F.regexp_extract("url", r"^(?i)[a-z][a-z0-9+.-]*://([^/]+)", 1))


def host_rollup_stream(parsed: DataFrame) -> DataFrame:
    """Stateful per-host rollup: a streaming aggregate, to be written in
    update mode. Emits, for every host seen in a micro-batch, its running
    totals (pages, bytes, error pages) and batch_ts, the latest warc_ts
    seen for the host so far."""
    return (parsed.groupBy(host_expr().alias("host"))
            .agg(F.count(F.lit(1)).alias("pages"),
                 F.sum("html_bytes").alias("bytes"),
                 F.count_if(F.col("status") != "ok").alias("err_pages"),
                 F.max("warc_ts").alias("batch_ts")))


def _atomic_json_write(path: str, obj: dict) -> None:
    """tmp-then-rename write of a sink's state file: the drain's commit."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _load_state(out_dir: str, sink: str, want: dict) -> dict | None:
    """The state of the sink ``out_dir/<sink>``, None for a new sink. State
    of another format, drain kind or transcode flag is refused, and so is
    a state file of an earlier layout (never migrated by guesswork): a
    flipped transcode would leave the sink half-decoded each way, and the
    Bloom kind's sink schema adds maybe_dup to the plain one."""
    old = [n for n in ("_stream_flags.json", f"_{sink}_totals.json",
                       "_bloom_state.json")
           if os.path.exists(os.path.join(out_dir, n))]
    path = os.path.join(out_dir, f"_{sink}_state.json")
    state = None
    if os.path.exists(path):
        with open(path) as f:
            state = json.load(f)
    have = old or state and {k: state.get(k) for k in want}
    if old or (state is not None and have != want):
        raise ValueError(
            f"stream flag mismatch for {out_dir!r}: this drain requested "
            f"{want} but the sink was created with {have}; use a new "
            "out_dir (or keep the original flags) — mixed decodes in one "
            "parsed sink are unrecoverable")
    return state


def _last_committed_batch(spark: SparkSession, sink_dir: str) -> int:
    """Latest batch id in a file sink's ``_spark_metadata`` log (-1 if none),
    from its file names ("7", "9.compact") via the Hadoop FileSystem, so
    hdfs:// and s3a:// sinks work too. The listing crosses py4j as ONE
    "{path,...}" string (a round trip per entry cost 0.6-1.4 ms); a comma
    in a parent dir can only yield a wrong id, which _drain's batch-id
    check turns into a recount."""
    log, fs = hadoop_path(spark, os.path.join(sink_dir, "_spark_metadata"))
    if not fs.exists(log):
        return -1
    jvm = spark._jvm
    paths = jvm_class(jvm, "org.apache.commons.lang3.ArrayUtils").toString(
        jvm_class(jvm, "org.apache.hadoop.fs.FileUtil").stat2Paths(
            fs.listStatus(log)))[1:-1].split(",")
    ids = (re.fullmatch(r"(\d+)(\.compact)?", p.rsplit("/", 1)[-1])
           for p in paths)
    return max((int(m[1]) for m in ids if m), default=-1)


def _bitmap(positions, bitmap: str | None = None) -> str:
    """``bitmap`` ∪ ``positions`` packed as BLOOM_M/4 hex digits (2 KiB)."""
    n = int(bitmap or "0", 16)
    for p in positions:
        n |= 1 << p
    return f"{n:0{BLOOM_M // 4}x}"


def _seed_bits(spark: SparkSession, history_dir: str) -> str:
    """Bitmap of a parsed history sink's content hashes. A non-empty
    history whose hashes are all 0 would flag every page: refused."""
    row = (spark.read.schema(PARSED_SCHEMA).parquet(history_dir)
           .agg(F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("content_hash") != 0).alias("hashed"),
                bloom_bits("content_hash").alias("bits")).collect()[0])
    if row.n and not row.hashed:
        raise ValueError(
            f"Bloom history {history_dir!r}: all {row.n} rows have "
            "content_hash 0, so every page would read maybe_dup = 1; re-run "
            "it with resume=False (full re-parse) or into a fresh out_dir")
    return _bitmap(row.bits)


def _recount(spark: SparkSession, sink_dir: str, metrics: dict):
    """The one recovery path of ``_drain``: ``metrics`` over the whole
    committed sink in one aggregate (read through its commit log, so part
    files of failed or retried tasks are not counted)."""
    try:
        return (spark.read.parquet(sink_dir)
                .agg(*[c.alias(k) for k, c in metrics.items()]).collect()[0])
    except AnalysisException:
        return dict.fromkeys(metrics)  # no commit (or no file) yet


CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CKPT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing"
                   ".FileSystemBasedCheckpointFileManager")


def _file_checkpoints(spark: SparkSession, out_dir: str) -> bool:
    """Whether a drain into ``out_dir`` runs its query on FS_CKPT_MANAGER:
    the session names no manager of its own and ``out_dir``'s Hadoop
    FileSystem (its scheme, else the default FS) is the local one."""
    return (spark.conf.get(CKPT_MANAGER_KEY, None) is None
            and hadoop_path(spark, out_dir)[1].getUri().getScheme() == "file")


def _drain(spark: SparkSession, frame: DataFrame, out_dir: str, sink: str,
           kind: str, transcode: bool, aggs: dict,
           history_dir: str | None = None) -> dict:
    """Drain ``frame`` with one availableNow query into the file sink
    ``out_dir/<sink>``; return the sink's running totals of ``aggs``.

    State: ``out_dir/_<sink>_state.json`` = {format (bump it with any
    layout change), kind, transcode, last_batch, totals} + the "bloom"
    kind's packed ``seed_bits`` and ``bits``; fixed-size, written once
    after the query. The drain adds what it observes (``aggs``, and the
    Bloom kind's bit positions) only if its progress reports exactly the
    batches after ``last_batch`` (``recentProgress`` keeps ~100); a
    replayed batch, a skipped write that observes 0 rows, has an id
    ≤ ``last_batch`` and is already in the state. Otherwise,
    and on entry when the sink's log does not end at ``last_batch`` (a
    crash between the sink commit and the state write, lost state),
    ``_recount`` aggregates the committed sink once — on entry before the
    Bloom kind tags ``frame``."""
    bloom = kind == "bloom"
    want = {"format": 1, "kind": kind, "transcode": bool(transcode)}
    state = _load_state(out_dir, sink, want)
    if state is None:
        state = {**want, "last_batch": -1, "totals": dict.fromkeys(aggs, 0)}
        if bloom:
            state["seed_bits"] = state["bits"] = _seed_bits(spark, history_dir)
    metrics = {**aggs, "bits": bloom_bits("content_hash")} if bloom else aggs
    sink_dir = os.path.join(out_dir, sink)

    def advance(rows, last_batch, base):
        new = {**state, "last_batch": last_batch, "totals": {
            k: base["totals"][k] + sum(int(r[k] or 0) for r in rows)
            for k in aggs}}
        if bloom:
            new["bits"] = _bitmap((p for r in rows for p in r["bits"] or ()),
                                  base["bits"])
        return new

    # a recount adds the whole committed sink to the empty (seeded) state
    empty = {"totals": dict.fromkeys(aggs, 0), "bits": state.get("seed_bits")}
    before = _last_committed_batch(spark, sink_dir)
    if state["last_batch"] != before:
        state = advance([_recount(spark, sink_dir, metrics)], before, empty)
    if bloom:
        bits = int(state["bits"], 16)
        frame = bloom_probe(frame, "content_hash", local_frame(spark, [
            (p,) for p in range(BLOOM_M) if bits >> p & 1], "pos bigint"))
    # On file: the query's logs (offsets, commits, sources/0, the sink's
    # _spark_metadata) commit through the FileSystem manager: Spark's
    # default FileContext one stats each rename through
    # RawLocalFileSystem.getFileLinkStatus, which forks `readlink` when
    # Hadoop has no native library. Both check the destination, then call
    # RawLocalFileSystem.rename (the local AbstractFileSystem does not
    # override renameInternal), so this removes forks, not a guarantee.
    # Other schemes keep the default: on HDFS the FileContext rename is the
    # atomic one. The logs take the conf when start() builds the query.
    scoped = _file_checkpoints(spark, out_dir)
    if scoped:
        spark.conf.set(CKPT_MANAGER_KEY, FS_CKPT_MANAGER)
    try:
        q = write_parsed_stream(
            frame.observe("drain", *[c.alias(k) for k, c in metrics.items()]),
            out_dir, sink)
        q.awaitTermination()
    finally:
        if scoped:
            spark.conf.unset(CKPT_MANAGER_KEY)
    after = _last_committed_batch(spark, sink_dir)
    seen = {p.batchId: p.observedMetrics["drain"] for p in q.recentProgress
            if "drain" in p.observedMetrics
            and p.batchId > state["last_batch"]}
    if sorted(seen) == list(range(state["last_batch"] + 1, after + 1)):
        state = advance(seen.values(), after, state)
    else:
        state = advance([_recount(spark, sink_dir, metrics)], after, empty)
    _atomic_json_write(os.path.join(out_dir, f"_{sink}_state.json"), state)
    return state["totals"]


def run_stream_once(spark: SparkSession, src_dir: str, out_dir: str,
                    transcode: bool = False) -> dict:
    """Drain everything currently in src_dir through the kernel into
    out_dir/parsed exactly once (availableNow), then stop. Re-running after
    new files arrive processes ONLY the new files (checkpoint). transcode
    must stay constant across drains of one out_dir (same contract as the
    batch pipeline's resumed sinks) — enforced via the sink's state file."""
    parsed = parse_page_stream(read_page_stream(spark, src_dir),
                               transcode=transcode)
    return _drain(spark, parsed, out_dir, "parsed", "plain", transcode,
                  {"rows_total": F.count(F.lit(1))})


def links_stream(pages: DataFrame) -> DataFrame:
    """Web-graph stage on a stream: the SAME kernel stage and links explode
    that serve the batch path (pipeline/job.py) are stateless, so they are
    legal per micro-batch — each drop of crawl pages yields its outlink
    rows incrementally."""
    parsed = parse_pages(pages, extract=False,
                         columns=["url", "warc_ts", "links"])
    return explode_pages(parsed, "links")


def run_links_stream_once(spark: SparkSession, src_dir: str,
                          out_dir: str) -> dict:
    """Drain pending page drops into out_dir/links exactly once."""
    links = links_stream(read_page_stream(spark, src_dir))
    return _drain(spark, links, out_dir, "links", "links", False,
                  {"links_total": F.count(F.lit(1))})


def run_bloom_stream_once(spark: SparkSession, src_dir: str, out_dir: str,
                          history_dir: str) -> dict:
    """Continuous-ingest dedup drain: parse pending page drops and tag
    every parsed row against the history Bloom filter, writing
    parsed + maybe_dup exactly once.

    The bit set lives in the sink's state file as a packed BLOOM_M-bit
    bitmap: the FIRST drain of an out_dir reads history_dir (any parsed
    parquet sink — a batch run or a previous drain) once to seed it; every
    drain probes the bitmap (never history) and adds the bit positions it
    observes in its own committed rows. End-to-end per-drain cost is
    therefore O(|batch|) + O(BLOOM_M), independent of accumulated history.
    Its accuracy is not: the geometry is fixed (m = 8192 bits, k = 3), so
    the filter saturates — ~93% of distinct new pages read maybe_dup = 1
    once the history reaches 10⁴ documents, ~100% at 10⁵ (see
    ops.dedup_bloom and ROADMAP item 2). Crash-safe: see ``_drain``.

    This drain always parses untranscoded, and resuming an out_dir a
    transcoded or plain-kind drain created fails fast instead of mixing
    sink schemas."""
    parsed = parse_page_stream(read_page_stream(spark, src_dir))
    return _drain(spark, parsed, out_dir, "parsed", "bloom", False,
                  {"rows_total": F.count(F.lit(1)),
                   "maybe_dup_total": F.sum("maybe_dup")}, history_dir)
