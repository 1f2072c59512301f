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
  - a custom stateful operator via ``applyInPandasWithState``: per-host
    running crawl stats (pages, bytes, error pages seen so far) — the
    streaming analogue of a hypertable rollup.

Scale shape: each micro-batch is a normal Spark job, so everything said in
pipeline/job.py about partitioning, salting, and skew applies per batch; the
stateful host rollup shuffles on `host`, whose cardinality (millions) dwarfs
executor count, and state is RocksDB-backed on a real cluster
(spark.sql.streaming.stateStore.providerClass).
"""
from __future__ import annotations

import os
import re
from functools import partial
from typing import Iterator, Tuple

import pandas as pd

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from .._rowmap import flat_map, one_row
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
    (key, value)->page decode in place of _rate_rows_to_pages — everything
    downstream (kernel, sinks, watermarks, stateful rollups) is source-
    agnostic."""
    raw = (spark.readStream.format("rate")
           .option("rowsPerSecond", rows_per_second)
           .option("numPartitions", partitions).load())
    return _rate_rows_to_pages(raw, seed)


def _rate_rows_to_pages(raw: DataFrame, seed: int = 42) -> DataFrame:
    """(timestamp, value) -> PAGES_SCHEMA rows via the deterministic batch
    page generator (stateless per-row, so legal on a stream)."""
    from ..synth import gen_page
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


def write_parsed_stream(parsed: DataFrame, out_dir: str,
                        trigger_available_now: bool = True):
    """S10-stream: exactly-once parquet sink (file-sink commit log in the
    checkpoint dir makes re-runs idempotent)."""
    writer = (parsed.writeStream
              .format("parquet")
              .option("path", os.path.join(out_dir, "parsed"))
              .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


# --- custom stateful operator: per-host running crawl stats -------------------

HOST_STATE_SCHEMA = StructType([
    StructField("pages", LongType()),
    StructField("bytes", LongType()),
    StructField("err_pages", LongType()),
])

HOST_ROLLUP_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("pages", LongType()),
    StructField("bytes", LongType()),
    StructField("err_pages", LongType()),
    StructField("batch_ts", TimestampType()),
])


def _host_rollup(key: Tuple[str], batches: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    """Running (pages, bytes, error-pages) per host across micro-batches."""
    pages = 0
    byte_count = 0
    err = 0
    last_ts = None
    for pdf in batches:
        pages += len(pdf)
        byte_count += int(pdf["html_bytes"].sum())
        err += int((pdf["status"] != "ok").sum())
        ts = pdf["warc_ts"].max()
        if last_ts is None or (ts is not None and ts > last_ts):
            last_ts = ts
    if state.exists:
        p0, b0, e0 = state.get
    else:
        p0, b0, e0 = 0, 0, 0
    new = (p0 + pages, b0 + byte_count, e0 + err)
    state.update(new)
    yield pd.DataFrame({"host": [key[0]], "pages": [new[0]],
                        "bytes": [new[1]], "err_pages": [new[2]],
                        "batch_ts": [last_ts]})


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
    """Stateful per-host rollup (applyInPandasWithState). Emits the updated
    running totals for every host seen in each micro-batch."""
    return (parsed
            .withColumn("host", host_expr())
            .groupBy("host")
            .applyInPandasWithState(
                _host_rollup,
                outputStructType=HOST_ROLLUP_SCHEMA,
                stateStructType=HOST_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def _atomic_json_write(path: str, obj: dict) -> None:
    """tmp-then-rename JSON persistence shared by the flags marker, the
    drain totals and the Bloom bit-set state, so a durability fix (e.g.
    fsync-before-replace) lands in one place."""
    import json
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _load_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    import json
    with open(path) as f:
        return json.load(f)


def _check_stream_flags(out_dir: str, transcode: bool,
                        kind: str = "plain") -> None:
    """Enforce the flag-constancy contract across drains of one out_dir,
    mirroring the batch pipeline's lineage-manifest check: a caller flipping
    transcode between drains would otherwise silently produce a parsed sink
    half-decoded each way with nothing recording which. The marker also
    records the DRAIN KIND ("plain" vs "bloom"): the two drains write
    different sink schemas (the Bloom drain adds maybe_dup), so resuming a
    plain out_dir with the Bloom drain (or vice versa) would mix files with
    and without the column — the exact silent-mixed-sink condition the
    marker exists to fail fast on. The flag is persisted once in a marker
    file next to the checkpoint dir (it cannot live IN the checkpoint:
    Spark owns that layout)."""
    marker = os.path.join(out_dir, "_stream_flags.json")
    want = {"transcode": bool(transcode), "kind": kind}
    have = _load_json(marker)
    if have is None:
        os.makedirs(out_dir, exist_ok=True)
        _atomic_json_write(marker, want)
    elif have != want:
        raise ValueError(
            f"stream flag mismatch for {out_dir!r}: this drain requested "
            f"{want} but the sink was created with {have}; use a new "
            "out_dir (or keep the original flags) — mixed decodes in one "
            "parsed sink are unrecoverable")


def _last_committed_batch(spark: SparkSession, sink_dir: str) -> int:
    """Latest batch id in a file sink's ``_spark_metadata`` log (-1 if none),
    from its file names ("7", "9.compact") via the Hadoop FileSystem, so
    hdfs:// and s3a:// sinks work too. The listing crosses py4j as ONE
    "{path,...}" string (a round trip per entry cost 0.6-1.4 ms); a comma
    in a parent dir can only yield a wrong id, which _counted_drain's
    batch-id check turns into a recount."""
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


def _counted_drain(spark: SparkSession, frame: DataFrame, start,
                   out_dir: str, sink: str, totals: dict) -> dict:
    """Drain ``frame`` through ``start(frame, out_dir)``, an availableNow
    query into the file sink ``out_dir/<sink>``, and return the sink's
    running ``totals`` (name -> aggregate). The drain observes its own rows
    and adds them to ``out_dir/_<sink>_totals.json`` = ``{last_batch,
    totals}`` only if the sink's log ended at ``last_batch`` before the
    drain (a replayed batch is a skipped write that observes 0 rows) and
    the progress reports exactly the batches after it (``recentProgress``
    keeps ~100); otherwise it re-reads the whole sink once."""
    sink_dir = os.path.join(out_dir, sink)
    path = os.path.join(out_dir, f"_{sink}_totals.json")
    state = _load_json(path) or {"last_batch": -1,
                                 "totals": dict.fromkeys(totals, 0)}
    before = _last_committed_batch(spark, sink_dir)
    q = start(frame.observe("drain", *[c.alias(k) for k, c in totals.items()]),
              out_dir)
    q.awaitTermination()
    after = _last_committed_batch(spark, sink_dir)
    seen = {p.batchId: p.observedMetrics["drain"] for p in q.recentProgress
            if "drain" in p.observedMetrics}
    if (state["last_batch"] == before
            and sorted(seen) == list(range(before + 1, after + 1))):
        got = {k: state["totals"][k] + sum(int(m[k] or 0)
                                           for m in seen.values())
               for k in totals}
    else:
        got = _recount(spark, sink_dir, frame.schema, totals)
    _atomic_json_write(path, {"last_batch": after, "totals": got})
    return got


def _recount(spark: SparkSession, sink_dir: str, schema, totals: dict) -> dict:
    """The recovery path of ``_counted_drain``: aggregate the whole sink."""
    try:
        row = (spark.read.schema(schema).parquet(sink_dir)
               .agg(*[c.alias(k) for k, c in totals.items()]).collect()[0])
    except AnalysisException:
        return dict.fromkeys(totals, 0)  # no commit yet: no output path
    return {k: int(row[k] or 0) for k in totals}


def run_stream_once(spark: SparkSession, src_dir: str, out_dir: str,
                    transcode: bool = False) -> dict:
    """Drain everything currently in src_dir through the kernel into
    out_dir/parsed exactly once (availableNow), then stop. Re-running after
    new files arrive processes ONLY the new files (checkpoint). transcode
    must stay constant across drains of one out_dir (same contract as the
    batch pipeline's resumed sinks) — enforced via a marker file."""
    _check_stream_flags(out_dir, transcode, kind="plain")
    pages = read_page_stream(spark, src_dir)
    parsed = parse_page_stream(pages, transcode=transcode)
    return _counted_drain(spark, parsed, write_parsed_stream, out_dir,
                          "parsed", {"rows_total": F.count(F.lit(1))})


def links_stream(pages: DataFrame) -> DataFrame:
    """Web-graph stage on a stream: the SAME kernel stage and links explode
    that serve the batch path (pipeline/job.py) are stateless, so they are
    legal per micro-batch — each drop of crawl pages yields its outlink
    rows incrementally."""
    parsed = parse_pages(pages, extract=False,
                         columns=["url", "warc_ts", "links"])
    return explode_pages(parsed, "links")


def write_links_stream(links: DataFrame, out_dir: str,
                       trigger_available_now: bool = True):
    """Exactly-once links sink (own commit log, independent of the parsed
    sink's checkpoint so the two streams can run and recover separately)."""
    writer = (links.writeStream
              .format("parquet")
              .option("path", os.path.join(out_dir, "links"))
              .option("checkpointLocation",
                      os.path.join(out_dir, "_links_checkpoint"))
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_links_stream_once(spark: SparkSession, src_dir: str,
                          out_dir: str) -> dict:
    """Drain pending page drops into out_dir/links exactly once."""
    pages = read_page_stream(spark, src_dir)
    return _counted_drain(spark, links_stream(pages), write_links_stream,
                          out_dir, "links", {"links_total": F.count(F.lit(1))})


def bloom_history_bits(history: DataFrame) -> DataFrame:
    """Fold a historical parsed corpus's content hashes into the ≤ BLOOM_M
    set bit positions of a Bloom filter — the bit geometry comes from the
    SHARED ops._bloom_position helper (also used by the batch dedup_bloom),
    so the stream and batch paths cannot drift. Map-side explode + partial
    distinct below ONE exchange; output is ≤ m rows regardless of history
    size, so the broadcast stays bounded. The false-positive rate does not:
    the geometry is fixed (m = BLOOM_M = 8192 bits, k = BLOOM_K = 3), and
    the filter saturates as history grows — ~3% of distinct new pages
    read positive at 10³ history documents, ~30% at 3·10³, ~93% at 10⁴
    (ROADMAP item 1 sizes a windowed filter to a target rate)."""
    from ..ops import BLOOM_K, _bloom_position

    pos = [_bloom_position(F.col("content_hash"), j).alias("pos")
           for j in range(BLOOM_K)]
    return history.select(F.explode(F.array(*pos)).alias("pos")).distinct()


def bloom_dedup_stream(parsed: DataFrame, hist_bits: DataFrame) -> DataFrame:
    """Tag a parsed page stream with maybe_dup against the history Bloom
    filter: one stream-static BROADCAST left join per hash function (k=3),
    no aggregation — stateless per row, so it is legal in append mode and
    costs nothing beyond the map stage of each micro-batch. maybe_dup = 1
    iff all k probed bits are set (Bloom positive: every true duplicate of
    a history document is flagged — no false negatives — plus the filter's
    m/k-governed false-positive minority). Works identically on a BATCH
    DataFrame (pinned by a stream-vs-batch differential test).

    Scale shape: the probe never shuffles the stream — k broadcast joins +
    codegen hashes; per-micro-batch cost is O(|batch|), independent of
    history size. run_bloom_stream_once persists the bit set and folds
    only each drained batch back in, so filter maintenance is O(|batch|)
    too."""
    from ..ops import BLOOM_K, _bloom_position

    out = parsed
    hits = []
    for j in range(BLOOM_K):
        pos_j = _bloom_position(F.col("content_hash"), j)
        bits_j = (hist_bits.select(F.col("pos").alias(f"_pos{j}"))
                  .withColumn(f"_set{j}", F.lit(1)))
        out = (out.withColumn(f"_pos{j}", pos_j)
               .join(F.broadcast(bits_j), f"_pos{j}", "left"))
        hits.append(F.coalesce(F.col(f"_set{j}"), F.lit(0)))
    n_set = hits[0]
    for h in hits[1:]:
        n_set = n_set + h
    out = out.withColumn("maybe_dup", (n_set == F.lit(BLOOM_K)).cast("int"))
    return out.drop(*[f"_pos{j}" for j in range(BLOOM_K)],
                    *[f"_set{j}" for j in range(BLOOM_K)])


def _bloom_state_save(out_dir: str, state: dict) -> None:
    _atomic_json_write(os.path.join(out_dir, "_bloom_state.json"), state)


def _bloom_fold_pending(spark: SparkSession, out_dir: str,
                        state: dict) -> dict:
    """Fold every committed sink file not yet in the folded-file manifest
    into the next bit-set version and return the advanced state (or the
    unchanged state when nothing is pending). Idempotent — bits are a
    set — and called both BEFORE a drain (so a crash between a previous
    drain's sink commit and its fold can never leave committed rows out
    of the filter when the next batch is tagged) and after it (folding
    the drain's own output for the future)."""
    import shutil
    parsed_dir = os.path.join(out_dir, "parsed")
    bits_root = os.path.join(out_dir, "_bloom_bits")
    try:
        # the sink's commit log, read on the driver: part files of failed
        # or retried tasks that it never committed are not folded
        files = sorted(os.path.basename(f) for f in spark.read.schema(
            PARSED_SCHEMA).parquet(parsed_dir).inputFiles())
    except AnalysisException:
        return state
    new = sorted(set(files) - set(state["folded"]))
    if not new:
        return state
    old_bits = spark.read.parquet(
        os.path.join(bits_root, f"v{state['version']}"))
    batch = spark.read.schema(PARSED_SCHEMA).parquet(
        *[os.path.join(parsed_dir, f) for f in new])
    nxt = state["version"] + 1
    (bloom_history_bits(batch).union(old_bits).distinct()
     .write.mode("overwrite").parquet(os.path.join(bits_root, f"v{nxt}")))
    new_state = {"version": nxt, "folded": files}
    _bloom_state_save(out_dir, new_state)
    # GC every superseded version: a crash before this loop leaves one
    for d in os.listdir(bits_root):
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < nxt:
            shutil.rmtree(os.path.join(bits_root, d), ignore_errors=True)
    return new_state


def run_bloom_stream_once(spark: SparkSession, src_dir: str, out_dir: str,
                          history_dir: str) -> dict:
    """Continuous-ingest dedup drain: parse pending page drops and tag
    every parsed row against the history Bloom filter, writing
    parsed + maybe_dup exactly once.

    The bit set is PERSISTED and maintained incrementally: the FIRST drain
    of an out_dir folds history_dir (any parsed parquet sink — a batch run
    or a previous drain) into ``out_dir/_bloom_bits/v0`` once; every drain
    after that reads the ≤ BLOOM_M-row bit-set parquet (never history) and,
    after the sink commits, folds ONLY the newly committed parquet files
    back in, writing the next bit-set version and advancing
    ``_bloom_state.json`` atomically. End-to-end per-drain cost is
    therefore O(|batch|) + O(BLOOM_M), independent of accumulated history.
    Its accuracy is not: the geometry is fixed (m = 8192 bits, k = 3), so
    the filter saturates — ~93% of distinct new pages read maybe_dup = 1
    once the history reaches 10⁴ documents, ~100% at 10⁵ (see
    bloom_history_bits and ROADMAP item 1). Crash-safe because
    bit-folding is idempotent (bits are a set: replaying a batch re-sets
    the same positions), the state json is the commit point, AND pending
    unfolded sink files are folded BEFORE each drain tags — a crash
    between a drain's sink commit and its fold can therefore never cost a
    false negative on the next drain; superseded
    bit-set versions are GC'd. New files are the sink's committed files
    (its _spark_metadata log, read on the driver) not yet in the
    folded-file manifest, so orphan part files of failed tasks are never
    folded.

    This drain always parses untranscoded (same marker contract as
    run_stream_once: resuming an out_dir a transcoded — or plain-kind —
    drain created fails fast instead of mixing sink schemas)."""
    _check_stream_flags(out_dir, transcode=False, kind="bloom")
    bits_root = os.path.join(out_dir, "_bloom_bits")
    state = _load_json(os.path.join(out_dir, "_bloom_state.json"))
    if state is None:
        hist = spark.read.schema(PARSED_SCHEMA).parquet(history_dir)
        bloom_history_bits(hist).write.mode("overwrite").parquet(
            os.path.join(bits_root, "v0"))
        state = {"version": 0, "folded": []}
        _bloom_state_save(out_dir, state)
    # crash recovery: fold files a previous drain committed but never
    # folded, so this drain tags against the complete history
    state = _bloom_fold_pending(spark, out_dir, state)
    hist_bits = spark.read.parquet(
        os.path.join(bits_root, f"v{state['version']}"))

    pages = read_page_stream(spark, src_dir)
    tagged = bloom_dedup_stream(parse_page_stream(pages), hist_bits)
    got = _counted_drain(spark, tagged, write_parsed_stream, out_dir, "parsed",
                         {"rows_total": F.count(F.lit(1)),
                          "maybe_dup_total": F.sum("maybe_dup")})
    # fold ONLY this drain's newly committed files into the bit set
    _bloom_fold_pending(spark, out_dir, state)
    return got
