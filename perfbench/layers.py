"""In-process, single-threaded timing of the kernel and kernel-stage layers.

Spans are recorded around calls into each module's public functions by
wrapping them for the duration of one measurement and restoring them
afterwards; nothing under ``htmlparser_spark/`` is edited.
"""
from __future__ import annotations

import time
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from htmlparser_spark.kernel import api
from htmlparser_spark.pipeline import kernel_stage
from htmlparser_spark.pipeline.schema import PARSED_SCHEMA

BATCH_ROWS = 512


class Spans:
    """Accumulated busy time per span name, plus the count of pages that
    fell back from the fast tokenizer to the per-char one."""

    def __init__(self):
        self.s: dict[str, float] = {}
        self.fallbacks = 0

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.s[name] = self.s.get(name, 0.0) + time.perf_counter() - t0
        return timed


@contextmanager
def _patched(obj, attr: str, value):
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


def _traced_parser(spans: Spans):
    base = api.Parser

    class TracedParser(base):
        def __init__(self, units, fast=True, **kw):
            super().__init__(units, fast=fast, **kw)
            if not fast:
                spans.fallbacks += 1

        run = spans.wrap("tokenize_tree", base.run)

    return TracedParser


def kernel_layers(rows: list[tuple]) -> dict:
    """Run the kernel stage over `rows` (url, warc_ts, html, _, lang) the
    way one Python worker would, in 512-row batches, with spans on
    decode_input, Parser.run, extract_main_content, parse_html and
    parse_batch, then convert each output batch to Arrow with the stage
    schema."""
    spans = Spans()
    schema = to_arrow_schema(PARSED_SCHEMA)
    statuses: list[str] = []
    n_errors = 0
    bytes_in = bytes_out = 0
    to_arrow_s = 0.0
    parse_html = spans.wrap("parse_html", kernel_stage.parse_html)
    with _patched(api, "decode_input",
                  spans.wrap("decode", api.decode_input)), \
            _patched(api, "Parser", _traced_parser(spans)), \
            _patched(api, "extract_main_content",
                     spans.wrap("extract", api.extract_main_content)), \
            _patched(kernel_stage, "parse_html", parse_html):
        batches = []
        for i in range(0, len(rows), BATCH_ROWS):
            chunk = rows[i:i + BATCH_ROWS]
            batches.append(pd.DataFrame({
                "url": [r[0] for r in chunk],
                "warc_ts": [r[1] for r in chunk],
                "html": [r[2] for r in chunk],
                "lang": [r[4] for r in chunk],
                "part_key": [0] * len(chunk),
                "content_hash": [0] * len(chunk),
            }))
            bytes_in += sum(len(r[2]) for r in chunk)
        # parse_batch is a generator: its span is the time spent in next()
        it = kernel_stage.parse_batch(iter(batches))
        batch_s = 0.0
        while True:
            t0 = time.perf_counter()
            out = next(it, None)
            batch_s += time.perf_counter() - t0
            if out is None:
                break
            t0 = time.perf_counter()
            rb = pa.RecordBatch.from_pandas(out, schema=schema,
                                            preserve_index=False)
            to_arrow_s += time.perf_counter() - t0
            bytes_out += rb.nbytes
            statuses.extend(out["status"])
            n_errors += int(out["n_errors"].sum())
    s = spans.s
    pages = len(rows)
    phases = s.get("decode", 0) + s.get("tokenize_tree", 0) + s.get(
        "extract", 0)
    fallback = spans.fallbacks
    return {
        "kernel.pages": pages,
        "kernel.bytes": bytes_in,
        "kernel.decode_s": s.get("decode", 0.0),
        "kernel.tokenize_tree_s": s.get("tokenize_tree", 0.0),
        "kernel.extract_s": s.get("extract", 0.0),
        "kernel.assemble_s": s.get("parse_html", 0.0) - phases,
        "kernel.err_pages": sum(1 for st in statuses if st != api.OK),
        "kernel.parse_errors": n_errors,
        "kernel.fallback_pages": fallback,
        "kernel.fast_path_ratio": (pages - fallback) / pages if pages else 0.0,
        "kernel_stage.self_s": batch_s - s.get("parse_html", 0.0),
        "kernel_stage.to_arrow_s": to_arrow_s,
        "kernel_stage.bytes_in": bytes_in,
        "kernel_stage.bytes_out": bytes_out,
    }
