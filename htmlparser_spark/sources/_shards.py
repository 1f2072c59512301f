"""The one-file-per-task shape shared by every crawl format: ``scan_files``
reads each file as one ``binaryFile`` task and splits its records inside
the task; ``write_shards`` writes each task's partition as one shard.

Shards are named by partition id, so a re-run of a sink whose input plans
FEWER partitions than the previous run would otherwise leave the previous
run's higher-numbered ``part-NNNNN`` shards in place — a directory-glob
consumer would then see duplicated records (unlike the parquet sinks, which
get idempotency from dynamic partition overwrite). After a sink's action
completes, delete every shard matching its pattern that is not in the
just-collected manifest, plus any ``.tmp`` files abandoned by killed task
attempts (all tasks have finished by the time the manifest is collected,
so a surviving ``.tmp`` is dead weight by construction).

Assumes the driver sees the same (shared) filesystem the executors wrote
to — the same assumption the sinks already make with their driver-side
``os.makedirs``.
"""
from __future__ import annotations

import glob
import gzip
import os
from functools import partial

from .._rowmap import arrow_batch, arrow_schema, flat_map


def scan_files(spark, path: str, rows_of, schema):
    """File(s)/glob → DataFrame(schema): one ``binaryFile`` task per file,
    no shuffle; ``rows_of(path, content)`` returns the rows of one file."""
    blobs = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))
    return flat_map(blobs, rows_of, ["path", "content"], schema)


def lines_of(path: str, content) -> list:
    """The non-empty lines of a UTF-8 text file (gunzipped if ``.gz``)."""
    data = bytes(content)
    if path.endswith(".gz"):
        data = gzip.decompress(data)
    return [line for line in data.decode("utf-8").splitlines() if line]


def write_shards(df, out_dir: str, suffix: str, encode) -> list:
    """Distributed shard sink: each task writes its partition as one
    ``part-NNNNN{suffix}`` shard whose bytes are
    ``gzip(encode(file_name, rows))``, ``rows`` being the partition's row
    tuples in ``df.columns`` order. Executors write directly to the
    (shared) output filesystem and the driver collects only the
    [(path, n_records), ...] manifest, which it returns; an empty
    partition writes no shard."""
    os.makedirs(out_dir, exist_ok=True)
    schema = "path string, n_records long"
    manifest = (df.mapInArrow(
        partial(_write_shard, out_dir, suffix, encode, tuple(df.columns),
                arrow_schema(schema)),
        schema).collect())
    out = [(r["path"], r["n_records"]) for r in manifest if r["path"]]
    # idempotent re-runs: drop shards a previous (wider) run left behind
    gc_stale_shards(out_dir, suffix, [p for p, _n in out])
    return out


def _write_shard(out_dir, suffix, encode, cols, arrow, batches):
    from pyspark import TaskContext

    task = TaskContext.get()
    path = os.path.join(out_dir, f"part-{task.partitionId():05d}{suffix}")
    rows = [row for batch in batches
            for row in zip(*(batch.column(c).to_pylist() for c in cols))]
    if rows:
        # Write-then-rename so a killed/speculative task attempt never
        # leaves a half-written shard where a reader (or a retry of THIS
        # task) can see it: the rename is atomic on POSIX, and a second
        # attempt renaming over the first is byte-identical (deterministic
        # encoding, gzip mtime=0, same partition contents).
        tmp = f"{path}.attempt-{task.attemptNumber()}.tmp"
        with open(tmp, "wb") as f:
            f.write(gzip.compress(encode(os.path.basename(path), rows),
                                  mtime=0))
        os.replace(tmp, path)
    yield arrow_batch([(path if rows else None, len(rows))], arrow)


def gc_stale_shards(out_dir: str, suffix: str, keep: list) -> int:
    """Remove ``part-*{suffix}`` shards not in ``keep`` and stray attempt
    tmp files; return the number of files removed."""
    keep_set = {os.path.abspath(p) for p in keep}
    removed = 0
    for p in glob.glob(os.path.join(out_dir, f"part-*{suffix}*")):
        if p.endswith(".tmp") or os.path.abspath(p) not in keep_set:
            os.remove(p)
            removed += 1
    return removed
