"""JSONL shard sink + reader — the de-facto LLM training-data delivery
format (one JSON object per line, gzip shards, a manifest of shard paths).

Same execution shape as the WET sink (warc.py): ONE TASK = ONE SHARD,
executors write directly to the shared output filesystem, the driver only
collects a tiny (path, n_records) manifest. Shards are deterministic —
keys sorted, compact separators, gzip mtime=0 — so a speculative or
retried task attempt renaming over a previous attempt's shard is
byte-identical, and the write-then-rename is atomic on POSIX.

Type mapping (schema-driven, strict): string/bool/int/float pass through;
timestamp → ISO 8601 UTC string; binary → base64 string. Nested types are
rejected up front with the real cause — flatten or json-encode them first
(training shards carry scalars).
"""
from __future__ import annotations

import base64
import datetime as _dt
import json
from functools import partial

from ._shards import lines_of, scan_files, write_shards

_SIMPLE = {"string", "boolean", "tinyint", "smallint", "int", "bigint",
           "float", "double"}


def _check_schema(schema):
    bad = [f"{f.name}:{f.dataType.simpleString()}" for f in schema.fields
           if f.dataType.simpleString() not in _SIMPLE
           and f.dataType.simpleString() not in ("timestamp", "binary")]
    if bad:
        raise ValueError(
            f"jsonl sink supports scalar columns only; offending: {bad} — "
            "flatten or json-encode nested columns first")


def _cell(v, kind: str):
    # NaN is not valid JSON: a NaN double is written as null
    if v is None or (isinstance(v, float) and v != v):
        return None
    if kind == "timestamp":  # Arrow hands the task aware datetimes
        return v.astimezone(_dt.timezone.utc).isoformat()
    if kind == "binary":
        return base64.b64encode(v).decode("ascii")
    return v


def _fields(schema) -> tuple:
    return tuple((f.name, f.dataType.simpleString()) for f in schema.fields)


def _jsonl_shard(fields, _name, rows) -> bytes:
    """``fields`` = ((column, kind), ...) in row order."""
    return "".join(
        json.dumps({c: _cell(v, kind) for (c, kind), v in zip(fields, row)},
                   ensure_ascii=False, sort_keys=True,
                   separators=(",", ":")) + "\n"
        for row in rows).encode("utf-8")


def write_jsonl(df, out_dir: str) -> list:
    """Distributed JSONL sink: each task writes its partition as one
    ``part-NNNNN.jsonl.gz`` shard. Returns [(path, n_records), ...]."""
    _check_schema(df.schema)
    return write_shards(df, out_dir, ".jsonl.gz",
                        partial(_jsonl_shard, _fields(df.schema)))


def _records_of(fields, path: str, content):
    for line in lines_of(path, content):
        obj = json.loads(line)
        yield tuple(_value(obj.get(c), kind) for c, kind in fields)


def _value(v, kind: str):
    """Inverse of _cell."""
    if v is None:
        return None
    if kind == "timestamp":
        return _dt.datetime.fromisoformat(v)
    if kind == "binary":
        return base64.b64decode(v)
    return v


def read_jsonl(spark, path: str, schema):
    """JSONL shard(s)/glob → DataFrame(schema) — one shard per task via
    binaryFile (no shuffle), inverse of write_jsonl's type mapping."""
    _check_schema(schema)
    return scan_files(spark, path, partial(_records_of, _fields(schema)),
                      schema)
