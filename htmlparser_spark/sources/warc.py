"""WARC source: Common Crawl's native container format → the pages table.

WARC (ISO 28500) is what an extraction pipeline actually receives from a
crawl: a file is a sequence of records, each ``WARC/1.0\\r\\n`` + header
lines + blank line + exactly ``Content-Length`` body bytes. Crawl
``response`` records wrap an HTTP response (status line + headers + blank
line + the html bytes). Common Crawl ships ~1 GB ``.warc.gz`` segments
whose members are gzip streams concatenated back to back — Python's
``gzip.decompress`` consumes multi-member streams, so whole-file and
per-record compression both decode through the same call.

Scale shape (100 TB = ~100k segment files): the standard Spark strategy —
and this module's — is ONE FILE = ONE TASK. The ``binaryFile`` scan lists
segments into tasks with no shuffle; record splitting happens inside the
task in an Arrow-batched ``mapInArrow`` (the kernel's own slow path is
~100× the record-split cost, so the split never dominates); the output is
exactly the pages schema ``(url, warc_ts, html, text, lang)``, so
``run_pipeline`` consumes it unchanged. Record boundaries advance by
Content-Length per the spec — a body containing the bytes ``WARC/1.0``
cannot desynchronize the parse.

Reference parity: the reference parses files handed to it one at a time
(``Program.cs:3-6`` reads a single local file); WARC is the corresponding
"how pages arrive" story at crawl scale.
"""
from __future__ import annotations

import datetime as _dt
import gzip
import io
import os
import zlib
from functools import partial

from .._rowmap import arrow_batch, arrow_schema
from ._shards import scan_files, write_shards

WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_SYNTH_INFO = b"software: htmlparser-spark-synth\r\n"


def _warc_record(rtype: str, headers: dict[str, str], body: bytes) -> bytes:
    head = [b"WARC/1.0", f"WARC-Type: {rtype}".encode()]
    head += [f"{k}: {v}".encode() for k, v in headers.items()]
    head.append(f"Content-Length: {len(body)}".encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _utc(ts) -> _dt.datetime:
    """``ts`` as an aware datetime, a naive one read as UTC. A missing ts
    (``read_warc`` yields None for a record whose WARC-Date was malformed)
    reads as the epoch, so salvaged text is written rather than failing
    its whole task on every retry."""
    if ts is None:
        return _EPOCH
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return ts


def _warc_date(ts) -> str:
    return _utc(ts).astimezone(_dt.timezone.utc).strftime(WARC_DATE_FMT)


def _warcinfo(name: str, body: bytes) -> bytes:
    return _warc_record("warcinfo", {"WARC-Filename": name}, body)


def _response_record(url: str, ts, html: bytes) -> bytes:
    """A crawl ``response`` record: the html wrapped in an HTTP 200."""
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode() + html)
    return _warc_record(
        "response", {"WARC-Target-URI": url, "WARC-Date": _warc_date(ts)},
        http)


def write_warc(path: str, rows, *, compress: bool = False) -> int:
    """Write (url, warc_ts, html_bytes) rows as a WARC file (optionally
    gzipped whole-file). Returns the record count (excluding warcinfo)."""
    records = [_response_record(url, ts, html) for url, ts, html in rows]
    data = b"".join([_warcinfo(os.path.basename(path), _SYNTH_INFO)]
                    + records)
    if compress:
        # mtime=0 → byte-deterministic output for a given input
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as f:
        f.write(data)
    return len(records)


def synth_warc(path: str, n_pages: int, seed: int = 42,
               *, compress: bool = False) -> int:
    """Deterministic synthetic WARC from the same generator as the parquet
    corpus — byte-reproducible from (seed, n_pages) alone."""
    from ..synth import gen_rows
    rows = [(u, ts, html) for u, ts, html, _text, _lang
            in gen_rows(seed, range(n_pages))]
    return write_warc(path, rows, compress=compress)


def _gunzip_salvage(data: bytes) -> tuple[bytes, bool]:
    """Decode a (possibly multi-member) gzip stream, returning every byte
    that decodes cleanly plus a truncated/corrupt flag. At 100k-segment
    scale a handful of segments WILL be cut short by a crawler crash or a
    partial upload; one bad file must cost its tail, not the whole job
    (``gzip.decompress`` would throw and fail the task)."""
    out, pos, bad = [], 0, False
    while pos < len(data):
        d = zlib.decompressobj(wbits=47)  # 47 = gzip wrapper, max window
        try:
            out.append(d.decompress(data[pos:]))
            out.append(d.flush())
        except zlib.error:
            bad = True
            break
        if not d.eof:            # stream ended mid-member
            bad = True
            break
        if not d.unused_data:    # clean end of last member
            break
        pos = len(data) - len(d.unused_data)
    return b"".join(out), bad


def iter_warc_records(data: bytes, types: tuple[bytes, ...] = (b"response",),
                      stats: dict | None = None):
    """Yield (url, warc_ts, body_bytes) for each record of the requested
    WARC-Type(s) (``response`` = crawl HTML, ``conversion`` = WET text).

    Spec-driven walk: find the next ``WARC/1.0`` version line, parse the
    header block, then skip exactly Content-Length body bytes — never
    scanning the body for markers. Malformed records (bad/missing
    Content-Length) resync on the next version line; a record cut off by
    end-of-buffer is dropped, never yielded short. ``stats`` (optional
    dict) is incremented in place: ``malformed``, ``truncated``."""
    if stats is None:
        stats = {}
    stats.setdefault("malformed", 0)
    stats.setdefault("truncated", 0)
    pos = 0
    while True:
        idx = data.find(b"WARC/1.0", pos)
        if idx < 0:
            return
        hdr_end = data.find(b"\r\n\r\n", idx)
        if hdr_end < 0:
            stats["truncated"] += 1  # header block runs off the buffer
            return
        headers = {}
        for line in data[idx:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            stats["malformed"] += 1
            pos = hdr_end + 4  # malformed record: resync on next version line
            continue
        if hdr_end + 4 + clen > len(data):
            stats["truncated"] += 1  # body cut off: drop, don't yield short
            return
        body = data[hdr_end + 4:hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen
        if headers.get(b"warc-type") not in types:
            continue
        url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        try:
            ts = _dt.datetime.strptime(
                headers.get(b"warc-date", b"").decode("ascii"),
                WARC_DATE_FMT).replace(tzinfo=_dt.timezone.utc)
        except ValueError:
            ts = None
        if headers.get(b"warc-type") == b"response":
            # response bodies wrap the payload in an HTTP message
            http_split = body.split(b"\r\n\r\n", 1)
            body = http_split[1] if len(http_split) == 2 else b""
        yield url, ts, body


def _segment(path: str, content) -> tuple[bytes, bool]:
    """A segment's bytes (gunzipped with salvage if ``.gz``) and whether
    its gzip stream was cut short or corrupt."""
    data = bytes(content)
    return _gunzip_salvage(data) if path.endswith(".gz") else (data, False)


def _pages_of(path: str, content):
    data, _bad = _segment(path, content)
    for url, ts, html in iter_warc_records(data):
        yield url, ts, html, "", ""


def read_warc(spark, path: str):
    """WARC file(s)/glob → DataFrame with the pages schema — a drop-in
    ``run_pipeline`` source. One binaryFile task per segment, record split
    inside the task, no shuffle (pinned in tests/test_warc.py)."""
    from ..pipeline.schema import PAGES_SCHEMA
    return scan_files(spark, path, _pages_of, PAGES_SCHEMA)


def _segment_stats(path: str, content):
    data, corrupt = _segment(path, content)
    st: dict = {}
    n = sum(1 for _ in iter_warc_records(data, stats=st))
    return [(path, n, st["malformed"], st["truncated"], corrupt)]


def warc_scan_stats(spark, path: str):
    """Per-segment health scan → DataFrame (path, records, malformed,
    truncated, gzip_corrupt). The triage query an operator runs BEFORE
    pointing the pipeline at a new crawl drop: it reads every segment with
    the exact same salvage/resync logic as ``read_warc`` (so its counts ARE
    the records the pipeline would see), one file per task, no shuffle.
    A fleet-wide rollup is a plain aggregate over its output."""
    return scan_files(
        spark, path, _segment_stats,
        "path string, records long, malformed long, truncated long, "
        "gzip_corrupt boolean")


def _wet_shard(name: str, rows) -> bytes:
    return b"".join([_warcinfo(name, b"format: WET\r\n")] + [
        _warc_record("conversion",
                     {"WARC-Target-URI": url, "WARC-Date": _warc_date(ts),
                      "Content-Type": "text/plain"},
                     (text or "").encode("utf-8"))
        for url, ts, text in rows])


def write_wet(parsed_df, out_dir: str) -> list:
    """Distributed WET sink — Common Crawl's extracted-text format: each
    task writes its partition as one ``.warc.wet.gz`` segment of
    ``conversion`` records (plain-text body, no HTTP wrapper), the same
    one-file-per-task shape the WARC reader consumes. Executors write
    directly to the (shared) output filesystem and the driver gets back a
    tiny (path, n_records) manifest — the extracted corpus itself never
    flows through the driver.

    Input: any DataFrame with (url, warc_ts, main_text) — e.g.
    ``{out}/parsed`` from run_pipeline."""
    return write_shards(parsed_df.select("url", "warc_ts", "main_text"),
                        out_dir, ".warc.wet.gz", _wet_shard)


def _texts_of(path: str, content):
    data, _bad = _segment(path, content)
    for url, ts, body in iter_warc_records(data, types=(b"conversion",)):
        yield url, ts, body.decode("utf-8", "replace")


def read_wet(spark, path: str):
    """WET file(s)/glob → DataFrame (url, warc_ts, text) — same
    one-file-per-task, no-shuffle shape as read_warc."""
    return scan_files(spark, path, _texts_of,
                      "url string, warc_ts timestamp, text string")


# --- member-gzip segments + CDX-driven ranged record fetch -------------------------------

def write_warc_members(path: str, rows) -> list:
    """Write (url, warc_ts, html_bytes) rows as a WARC segment whose
    records are INDIVIDUAL gzip members concatenated back to back — the
    actual Common Crawl layout, and the property that makes the CDX
    index's (offset, length) ranged fetch possible: any record can be
    decompressed from its own byte range with no context. A whole-file
    reader stays compatible (multi-member gzip decodes transparently —
    see _gunzip_salvage). Returns the capture manifest
    [(url, ts, offset, length), ...] the index is written from."""
    out = io.BytesIO()
    info = gzip.compress(_warcinfo(os.path.basename(path), _SYNTH_INFO),
                         mtime=0)
    out.write(info)
    manifest = []
    pos = len(info)
    for url, ts, html in rows:
        ts = _utc(ts)
        member = gzip.compress(_response_record(url, ts, html), mtime=0)
        out.write(member)
        manifest.append((url, ts, pos, len(member)))
        pos += len(member)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(out.getvalue())
    os.replace(tmp, path)
    return manifest


def read_warc_ranged(spark, base_dir: str, plan_df):
    """Execute a CDX fetch plan: ``plan_df`` rows (filename, offset,
    length, ...) name exactly the records to read; each task opens its
    files once (plan repartitioned + sorted by filename) and seeks to the
    planned byte ranges — the 100 TB shape where the tiny PLAN shuffles,
    never the page bytes, and unwanted captures are never read at all
    (vs read_warc's full-segment scan). A range that fails to decode
    (truncated upload, bad index entry) costs that record only."""
    from ..pipeline.schema import PAGES_SCHEMA

    plan = (plan_df.select("filename", "offset", "length")
            .repartition("filename")
            .sortWithinPartitions("filename", "offset"))
    return plan.mapInArrow(
        partial(_fetch_ranges, base_dir, arrow_schema(PAGES_SCHEMA)),
        PAGES_SCHEMA)


def _fetch_ranges(base_dir: str, arrow, batches):
    """read_warc_ranged's batch function: it keeps one file open across
    the rows of a batch, so it is its own stage rather than a flat_map."""
    for batch in batches:
        out = []
        handle, handle_name = None, None
        # the plan's columns: filename, offset, length
        for fname, off, length in zip(*(c.to_pylist() for c in batch.columns)):
            if fname != handle_name:
                if handle is not None:
                    handle.close()
                handle = open(os.path.join(base_dir, fname), "rb")
                handle_name = fname
            handle.seek(off)
            raw = handle.read(length)
            try:
                data = gzip.decompress(raw)
            except (OSError, EOFError, zlib.error):
                continue  # bad range/member: drop this record only
            for url, ts, html in iter_warc_records(data):
                out.append((url, ts, html, "", ""))
        if handle is not None:
            handle.close()
        yield arrow_batch(out, arrow)
