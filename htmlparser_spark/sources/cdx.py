"""CDX-J index source: Common Crawl's URL index format.

A Common Crawl snapshot ships, next to its ~100k WARC segments, a sorted
URL index (``cdx-*.gz``): one line per capture —

    <SURT key> <14-digit timestamp> <JSON payload>

where the JSON carries at least ``url, mime, status, digest, length,
offset, filename`` (the WARC segment + byte range holding the record).
Production pipelines read the INDEX first and fetch only the records they
want: at 100 TB of WARC the index is ~3 orders of magnitude smaller, so a
"fetch plan" built from it (status==200, mime==text/html) prunes the scan
before a single page byte moves.

Scale shape mirrors warc.py: ONE INDEX SHARD = ONE TASK via ``binaryFile``
(no shuffle; line splitting happens inside the task, Arrow-batched); the
writer emits deterministic bytes (sorted by SURT key per the CDX
invariant, compact JSON with sorted keys, gzip mtime=0) so retried
attempts collide safely.

SURT (Sort-friendly URI Reordering Transform) is the index's key scheme:
host labels reversed and comma-joined, then ``)/`` + path?query, all
lowercase — captures of one host sort together regardless of subdomain
order. ``surt_key`` implements the standard subset (scheme dropped,
default ports dropped, no www-stripping — documented choice, Common
Crawl's own indexes keep www too).
"""
from __future__ import annotations

import datetime as _dt
import gzip
import hashlib
import json
import os
import random
from urllib.parse import urlsplit

from ._shards import lines_of, scan_files

CDX_TS_FMT = "%Y%m%d%H%M%S"


def surt_key(url: str) -> str:
    """SURT form of a URL: ``com,example)/path?query`` (lowercase, scheme
    and default port dropped). Returns "" for unparseable/hostless urls."""
    try:
        parts = urlsplit(url)
    except ValueError:
        return ""
    host = parts.hostname
    if not host:
        return ""
    key = ",".join(reversed(host.lower().split(".")))
    port = parts.port
    if port and port not in (80, 443):
        key += f":{port}"
    path = parts.path.lower() or "/"
    if parts.query:
        path += "?" + parts.query.lower()
    return key + ")" + path


def write_cdx(path: str, rows, *, compress: bool = True) -> int:
    """Write (url, ts, status, mime, digest, length, offset, filename) rows
    as a CDX-J shard, sorted by (SURT key, UTC timestamp) per the format
    invariant; an aware ``ts`` is converted to UTC, a naive one is read as
    UTC. Deterministic bytes; returns the line count."""
    lines = []
    for url, ts, status, mime, digest, length, offset, filename in rows:
        key = surt_key(url)
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc)
        tss = ts.strftime(CDX_TS_FMT)
        payload = json.dumps(
            {"url": url, "mime": mime, "status": str(int(status)),
             "digest": digest, "length": str(int(length)),
             "offset": str(int(offset)), "filename": filename},
            sort_keys=True, separators=(",", ":"))
        lines.append(f"{key} {tss} {payload}\n")
    lines.sort()
    data = "".join(lines).encode("utf-8")
    if compress:
        data = gzip.compress(data, mtime=0)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
    return len(lines)


def synth_cdx(path: str, n: int, seed: int = 42, *,
              compress: bool = True) -> int:
    """Deterministic synthetic index: n capture records spread over hosts,
    statuses (200/301/404/503), mimes (text/html, application/pdf,
    image/jpeg, text/css), and 8 WARC segment files."""
    rng = random.Random(seed)
    epoch = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)
    rows = []
    for i in range(n):
        host = f"www.site{i % 37:03d}.example"
        url = f"https://{host}/p/{i:06d}" + ("?q=1" if i % 9 == 0 else "")
        ts = epoch + _dt.timedelta(seconds=i * 17)
        status = rng.choice([200, 200, 200, 200, 301, 404, 503])
        mime = (rng.choice(["text/html", "text/html", "text/html",
                            "application/pdf", "image/jpeg", "text/css"])
                if status == 200 else "text/html")
        length = 500 + (i * 31) % 9000
        digest = hashlib.md5(url.encode()).hexdigest()[:16].upper()
        rows.append((url, ts, status, mime, digest, length,
                     (i * 10007) % 1_000_000_000,
                     f"seg-{i % 8:05d}.warc.gz"))
    return write_cdx(path, rows, compress=compress)


def _captures_of(path: str, content):
    for line in lines_of(path, content):
        key, tss, payload = line.split(" ", 2)
        obj = json.loads(payload)
        ts = _dt.datetime.strptime(tss, CDX_TS_FMT)
        yield (key, ts.replace(tzinfo=_dt.timezone.utc),
               obj["url"], int(obj["status"]), obj["mime"], obj["digest"],
               int(obj["length"]), int(obj["offset"]), obj["filename"])


def read_cdx(spark, path: str):
    """CDX shard(s)/glob → DataFrame(surt_key, ts, url, status, mime,
    digest, length, offset, filename) — one shard per task, no shuffle."""
    return scan_files(
        spark, path, _captures_of,
        "surt_key string, ts timestamp, url string, status int, "
        "mime string, digest string, length long, offset long, "
        "filename string")
