#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north rule:
"run via spark-submit --py-files").

Usage:
  spark-submit --py-files dist/htmlparser_spark.zip scripts/run_job.py \
      --src /path/to/pages_parquet --out /path/to/out \
      [--partitions 256] [--lang en] [--no-resume] [--synth N]

The module zip is built by scripts/make_pyfiles.py. On a cluster the master /
executor topology comes from spark-submit flags; this script only declares the
logical job. On a local master, add the driver's C1-only `--conf` from the
README "Running" command. `--synth N` generates the deterministic synthetic
corpus instead of reading --src (for smoke tests without input data).
"""
from __future__ import annotations

import argparse
import json
import sys


def job_session(builder):
    """The job's session from ``builder`` (``SparkSession.builder``): the
    pipeline's runtime confs on whatever master spark-submit launched."""
    from htmlparser_spark.pipeline.job import SESSION_CONF
    return (builder.appName("htmlparser-extract").config(map=SESSION_CONF)
            .getOrCreate())


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", help="input pages parquet/Iceberg path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--lang", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--synth", type=int, default=None,
                    help="generate N synthetic pages instead of reading --src")
    ap.add_argument("--warc", default=None,
                    help="read input from WARC file(s)/glob instead of --src")
    ap.add_argument("--wet-out", default=None,
                    help="also write the extracted text as WET segments here")
    ap.add_argument("--jsonl-out", default=None,
                    help="also write (url, warc_ts, lang, main_text) as "
                         "deterministic JSONL.gz training shards here")
    ap.add_argument("--emit-links", action="store_true",
                    help="also emit the web-graph outputs from the same "
                         "parse: link columns in {out}/parsed plus the "
                         "exploded {out}/links table")
    ap.add_argument("--transcode", action="store_true",
                    help="charset-sniff each page (BOM/meta prescan) and "
                         "re-encode detected non-UTF-8 pages to UTF-8 "
                         "before the parse kernel (default: reference-"
                         "parity UTF-8-replacement decode)")
    args = ap.parse_args(argv)
    if not args.src and not args.synth and not args.warc:
        ap.error("one of --src, --warc, or --synth N is required")

    # Import AFTER spark-submit has placed the --py-files zip on sys.path —
    # this is exactly what executor Python workers do too.
    from pyspark.sql import SparkSession
    from htmlparser_spark.pipeline.job import run_pipeline
    from htmlparser_spark.synth import synth_pages

    spark = job_session(SparkSession.builder)
    src = args.src
    if args.synth:
        src = synth_pages(spark, args.synth, seed=42)
    elif args.warc:
        from htmlparser_spark.sources import read_warc
        src = read_warc(spark, args.warc)
    metrics = run_pipeline(
        spark, src, args.out,
        num_partitions=args.partitions,
        lang=args.lang,
        resume=not args.no_resume,
        emit_links=args.emit_links,
        transcode=args.transcode,
    )
    if args.wet_out:
        from htmlparser_spark.sources import write_wet
        segs = write_wet(
            spark.read.parquet(f"{args.out}/parsed"), args.wet_out)
        metrics = dict(metrics, wet_segments=len(segs),
                       wet_records=sum(n for _p, n in segs))
    if args.jsonl_out:
        from htmlparser_spark.sources import write_jsonl
        shards = write_jsonl(
            spark.read.parquet(f"{args.out}/parsed")
            .select("url", "warc_ts", "lang", "main_text"),
            args.jsonl_out)
        metrics = dict(metrics, jsonl_shards=len(shards),
                       jsonl_records=sum(n for _p, n in shards))
    print(json.dumps({k: (int(v) if v is not None else None)
                      for k, v in metrics.items()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
