"""The three workloads. Each one generates its inputs from the seed, warms
up where users would be warm, runs units of work in the timed window, and
afterwards checks what the program wrote.

A unit is one ``run_pipeline`` call (batch_extract), one drop landing plus
one ``run_stream_once`` drain (stream_drain), or one pass over the op list
(curate_ops). The two batch workloads time exactly one job in a fresh
session, because a batch job pays its JVM, codegen and Python-worker start
on every run; the stream is a long-running query, so it is warmed first.
"""
from __future__ import annotations

import collections
import hashlib
import os
import statistics
import time

import pyarrow.dataset as ds

from htmlparser_spark import ops
from htmlparser_spark.kernel.api import parse_html
from htmlparser_spark.pipeline.job import read_pages, run_pipeline
from htmlparser_spark.streaming.job import run_stream_once
# the rows synth_pages generates, with its ~1% huge pages, 5% duplicate
# snapshots and hot-host skew
from htmlparser_spark.synth import gen_rows

from . import inputs

# Sizes keep one run of any workload under about 45 s on 4 cores, so that
# 22 runs per workload fit an hour. At these sizes fixed per-job costs, not
# the kernel, dominate every workload.
BATCH_PAGES = 200        # distinct urls; the generator adds 5% re-snapshots
BATCH_FILES = 16
DROP_PAGES = 100
STREAM_DROPS = 12        # timed drains; one more drop warms up
N_DOCUMENTS = 600
N_EMBEDDINGS = 500
CURATE_OPS = ("dedup_minhash_lsh", "dedup_incremental", "dedup_simhash",
              "text_line_dedup", "embedding_ann_ivfpq")


def _digest(url, status, main_text) -> bytes:
    return hashlib.sha256("\x00".join((url, status, main_text)).encode(
        "utf-8", "surrogatepass")).digest()


def _expected(rows) -> collections.Counter:
    """Multiset of (url, status, main_text) from an in-process parse."""
    out = collections.Counter()
    for url, _ts, html, _text, _lang in rows:
        r = parse_html(html, fast=True, extract=True, want_dom=False)
        out[_digest(url, r["status"], r["main_text"])] += 1
    return out


def _sink_rows(path: str) -> collections.Counter:
    """Multiset of (url, status, main_text) in a parquet sink. Files and
    dirs starting with '_' or '.' (the stream sink's _spark_metadata log,
    _SUCCESS markers) are skipped."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["url", "status", "main_text"])
    d = table.to_pydict()
    return collections.Counter(
        _digest(u, s, m) for u, s, m in zip(d["url"], d["status"],
                                            d["main_text"]))


def _misses(expected: collections.Counter, got: collections.Counter) -> int:
    """Outputs that are missing, wrong or extra; a wrong row counts once."""
    missing = sum((expected - got).values())
    extra = sum((got - expected).values())
    return min(max(missing, extra), sum(expected.values()))


def latest_snapshots(rows):
    latest = {}
    for r in rows:
        if r[0] not in latest or r[1] > latest[r[0]][1]:
            latest[r[0]] = r
    return list(latest.values())


class BatchExtract:
    """One fresh run_pipeline(src, out_dir) with default flags per unit."""

    name = "batch_extract"
    n_units = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.src = os.path.join(work, "src")
        self.outs: list[str] = []

    def make_inputs(self) -> None:
        self.rows = gen_rows(self.seed, range(BATCH_PAGES))
        inputs.write_pages(self.rows, self.src, BATCH_FILES)

    def warm_up(self) -> None:
        pass  # the job's cold start is part of what it costs

    def unit(self, i: int) -> dict:
        out = os.path.join(self.work, f"out-{i}")
        self.outs.append(out)
        t0 = time.perf_counter()
        run_pipeline(self.spark, self.src, out)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "latency_s": [wall], "pages": len(self.rows)}

    def check(self) -> tuple[int, int]:
        want = _expected(latest_snapshots(self.rows))
        attempted = failed = 0
        for out in self.outs:
            attempted += sum(want.values())
            failed += _misses(want, _sink_rows(os.path.join(out, "parsed")))
        return attempted, failed

    def kernel_rows(self) -> list[list]:
        """The rows the kernel stage sees in each timed unit."""
        return [self.rows]

    def fixed_overhead_s(self) -> float:
        """A scan-only aggregate over the same input: the per-job floor."""
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            read_pages(self.spark, self.src).groupBy().count().collect()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)


class StreamDrain:
    """Closed loop: land one drop, drain it with run_stream_once into one
    shared out_dir, repeat."""

    name = "stream_drain"
    n_units = STREAM_DROPS

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.staging = os.path.join(work, "staging")
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.landed: list[int] = []

    def make_inputs(self) -> None:
        self.drops = []
        os.makedirs(self.src, exist_ok=True)
        for _ in range(STREAM_DROPS + 1):
            self._stage()

    def _stage(self) -> None:
        d = len(self.drops)
        rows = gen_rows(
            self.seed, range(d * DROP_PAGES, (d + 1) * DROP_PAGES))
        inputs.write_pages(rows, os.path.join(self.staging, f"drop-{d}"), 1)
        self.drops.append(rows)

    def _land(self, d: int) -> None:
        os.rename(os.path.join(self.staging, f"drop-{d}"),
                  os.path.join(self.src, f"drop-{d}"))
        self.landed.append(d)

    def warm_up(self) -> None:
        self._land(0)
        run_stream_once(self.spark, self.src, self.out)

    def unit(self, i: int) -> dict:
        d = i + 1
        if d == len(self.drops):  # a --seconds longer than the staged drops
            self._stage()
        t0 = time.perf_counter()
        self._land(d)
        run_stream_once(self.spark, self.src, self.out)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "latency_s": [wall],
                "pages": len(self.drops[d])}

    def check(self) -> tuple[int, int]:
        # the stream sink keeps every snapshot (no dedup on this path)
        want = _expected(r for d in self.landed for r in self.drops[d])
        return (sum(want.values()),
                _misses(want, _sink_rows(os.path.join(self.out, "parsed"))))

    def kernel_rows(self) -> list[list]:
        return [self.drops[d] for d in self.landed[1:]]

    def sink_files(self) -> int:
        return sum(1 for _, _, files in os.walk(
            os.path.join(self.out, "parsed")) for f in files
            if f.endswith(".parquet"))


class CurateOps:
    """One pass over the curation op list; each op is forced through the
    noop sink, so no output column can be pruned away."""

    name = "curate_ops"
    n_units = 1

    def __init__(self, spark, work: str, seed: int):
        import __spark_entry__
        self.spark, self.work, self.seed = spark, work, seed
        self.data = os.path.join(work, "data")
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.op_walls: dict[str, list[float]] = {o: [] for o in CURATE_OPS}

    def make_inputs(self) -> None:
        os.makedirs(self.data, exist_ok=True)
        inputs.write_documents(self.seed, N_DOCUMENTS,
                               os.path.join(self.data, "documents.parquet"))
        inputs.write_embeddings(self.seed, N_EMBEDDINGS,
                                os.path.join(self.data, "embeddings.parquet"))

    def warm_up(self) -> None:
        pass  # the job's cold start is part of what it costs

    def unit(self, i: int) -> dict:
        # the pair cache would let a pass reuse the previous pass's work
        ops.cleanup_checkpoints()
        walls = []
        for name in CURATE_OPS:
            t0 = time.perf_counter()
            (self.queries[name](self.spark, self.data)
             .write.format("noop").mode("overwrite").save())
            walls.append(time.perf_counter() - t0)
            self.op_walls[name].append(walls[-1])
        return {"wall_s": sum(walls), "latency_s": [sum(walls)],
                "pages": N_DOCUMENTS}

    def check(self) -> tuple[int, int]:
        """Collect every op once more and compare with its DuckDB oracle
        the way scripts/check_oracles.py does."""
        import duckdb
        from check_oracles import (duck_type_class, spark_type_class,
                                   value_hash)
        ops.cleanup_checkpoints()
        results = {}
        for name in CURATE_OPS:
            df = self.queries[name](self.spark, self.data)
            results[name] = (df.columns, df.schema,
                             [tuple(r) for r in df.collect()])
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            failed = 0
            for name, (cols, schema, rows) in results.items():
                rel = con.sql(self.oracles[name])
                drows = rel.fetchall()
                stypes = [spark_type_class(f.dataType) for f in schema.fields]
                dtypes = [duck_type_class(t) for t in rel.types]
                ok = (len(rows) == len(drows) and len(rows) > 0
                      and sorted(cols) == sorted(rel.columns)
                      and value_hash(cols, rows, stypes)
                      == value_hash(list(rel.columns), drows, dtypes))
                if not ok:
                    failed += 1
                    print(f"oracle mismatch: {name}", flush=True)
        finally:
            con.close()
        ops.cleanup_checkpoints()
        return len(results), failed

    def kernel_rows(self) -> list[list]:
        return []


WORKLOADS = {w.name: w for w in (BatchExtract, StreamDrain, CurateOps)}
