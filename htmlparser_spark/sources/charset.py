"""Charset sniffing + transcode: the decode stage a real web corpus needs.

The kernel's own ``decode_input`` is UTF-8-with-replacement by design — it
mirrors the reference entry point byte for byte (``Program.cs:3``:
``File.ReadAllText`` defaults to UTF-8), and that parity is what the golden
fixtures pin. But Common-Crawl-style input is NOT all UTF-8: a few percent
of pages are windows-1252 / Shift_JIS / GB18030 / UTF-16, declared by a BOM
or a ``<meta charset>``. Feeding those bytes to a UTF-8-only decode turns
every non-ASCII character into U+FFFD mojibake. This module is the opt-in
ingest pass that fixes that WITHOUT touching kernel parity: sniff the
encoding per page (pure codegen — zero Python) and decode with
``decode_bytes``. The parse pipeline re-encodes the non-UTF-8 minority to
UTF-8 bytes inside its kernel stage (``run_pipeline(transcode=True)``,
``pipeline/kernel_stage.parse_batch``), so the kernel gets what it
already expects.

Sniffing follows the WHATWG "encoding sniffing algorithm" shape
(https://html.spec.whatwg.org/multipage/parsing.html#determining-the-character-encoding),
restricted to its deterministic, content-only steps:

1. **BOM** (spec step 2; always wins): ``EF BB BF`` → utf-8,
   ``FF FE`` → utf-16le, ``FE FF`` → utf-16be.
2. **Meta prescan** (spec step 6) over the first 1024 bytes: the first
   ``<meta ... charset=label`` match — which also catches the
   ``http-equiv="content-type" content="...; charset=label"`` form — with
   the label normalized through the WHATWG encoding-label table
   (https://encoding.spec.whatwg.org/#names-and-labels; subset below).
   Spec quirks preserved: a meta label naming UTF-16 is treated as UTF-8
   (you cannot have read an ASCII meta tag in a UTF-16 document), and
   ``x-user-defined`` maps to windows-1252.
3. **Default**: utf-8 (the spec's locale default is windows-1252 for legacy
   browsers; a corpus pipeline defaults utf-8 — documented divergence).

The prescan decodes the 1024-byte head as ISO-8859-1 (total: every byte maps
to a char), so the regex runs JVM-side on any input. Unknown labels fall
through to the default, like a browser.

Scale shape: the sniff is per-row codegen expressions (no exchange, no
Python); the re-encode touches only rows whose sniffed encoding is not
already UTF-8, where their bytes cross into Python for the parse anyway.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# WHATWG encoding-label table (subset: the labels that actually occur at
# web scale), label → canonical name. Python codec spellings in _CODECS.
LABEL_TO_ENCODING = {
    # https://encoding.spec.whatwg.org/#names-and-labels
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    # windows-1252 superset swallows all latin-1/ascii labels per spec
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "iso-8859-1": "windows-1252", "iso8859-1": "windows-1252",
    "iso_8859-1": "windows-1252", "latin1": "windows-1252",
    "l1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252", "x-user-defined": "windows-1252",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "ms_kanji": "shift_jis", "x-sjis": "shift_jis",
    "gb18030": "gb18030", "gbk": "gb18030", "gb2312": "gb18030",
    "csgb2312": "gb18030", "x-gbk": "gb18030",
    # spec: a meta-declared UTF-16 label is treated as UTF-8 (the prescan
    # read an ASCII tag, so the document cannot actually be UTF-16)
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}

_CODECS = {
    "utf-8": "utf-8",
    "windows-1252": "cp1252",
    "shift_jis": "shift_jis",
    "gb18030": "gb18030",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}

_META_RE = (r"(?i)<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*"
            r"([a-zA-Z0-9][a-zA-Z0-9._:-]*)")


def sniff_encoding(html_col) -> tuple[Column, Column]:
    """(encoding, method) columns for a binary html column — pure codegen.

    method ∈ {bom, meta, default} records WHICH sniffing step decided, the
    provenance a corpus datasheet reports.
    """
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    bom3 = F.substring(col, 1, 3) == F.lit(b"\xef\xbb\xbf")
    bom_le = F.substring(col, 1, 2) == F.lit(b"\xff\xfe")
    bom_be = F.substring(col, 1, 2) == F.lit(b"\xfe\xff")
    head = F.decode(F.substring(col, 1, 1024), "ISO-8859-1")
    label = F.lower(F.regexp_extract(head, _META_RE, 1))
    alias_map = F.create_map(
        *[F.lit(x) for kv in LABEL_TO_ENCODING.items() for x in kv])
    meta_enc = F.element_at(alias_map, label)  # NULL on ""/unknown label
    encoding = (F.when(bom3, F.lit("utf-8"))
                .when(bom_le, F.lit("utf-16le"))
                .when(bom_be, F.lit("utf-16be"))
                .when(meta_enc.isNotNull(), meta_enc)
                .otherwise(F.lit("utf-8")))
    method = (F.when(bom3 | bom_le | bom_be, F.lit("bom"))
              .when(meta_enc.isNotNull(), F.lit("meta"))
              .otherwise(F.lit("default")))
    return encoding, method


def with_sniffed_encoding(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append (encoding, method) sniff columns — map-only, no Python."""
    encoding, method = sniff_encoding(html_col)
    return df.withColumn("encoding", encoding).withColumn("method", method)


def decode_bytes(data: bytes, encoding: str) -> str:
    """One page's bytes → str under the sniffed encoding (replacement on
    invalid sequences, like the kernel's UTF-8 path), leading BOM stripped —
    the same normalization ``kernel.api.decode_input`` applies, so the
    kernel stage's re-encode composes with the parse bit-for-bit."""
    s = bytes(data).decode(_CODECS.get(encoding, "utf-8"), "replace")
    if s[:1] == "﻿":
        s = s[1:]
    return s


@F.arrow_udf(StringType())
def _decode_udf(html: pa.Array, encoding: pa.Array) -> pa.Array:
    return pa.array([decode_bytes(b, e) for b, e in
                     zip(html.to_pylist(), encoding.to_pylist())], pa.string())


def decoded_text(df: DataFrame, html_col: str = "html",
                 out_col: str = "text_u") -> DataFrame:
    """Append the charset-aware decoded text of every page (sniff + decode).
    Used by analytics that read page text directly from raw bytes."""
    s = with_sniffed_encoding(df, html_col)
    return s.withColumn(out_col, _decode_udf(F.col(html_col), F.col("encoding")))
