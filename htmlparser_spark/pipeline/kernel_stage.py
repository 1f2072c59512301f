"""S5: the parse/extract kernel as a vectorized Arrow stage.

``parse_batch`` under ``mapInPandas`` with output schema
``parsed_schema(columns)`` — built only by ``pipeline.job.parse_pages`` —
is the parse stage. The other executor Python (sources, sinks, codecs,
the vector and shingle stages) runs on ``mapInArrow``/``arrow_udf``.
Batches cross the JVM↔Python boundary as Arrow record batches (never
per-row); inside a batch the kernel loops documents (SURVEY.md §4.3). Every
output is one row per page: per-link and per-node tables are JVM-side
explodes of the `links` / `nodes` array columns (job.explode_pages).
"""
from __future__ import annotations

from operator import itemgetter
from typing import Iterator

import pandas as pd

from ..kernel.api import parse_html
from .schema import (
    LINK_TYPE, NODE_TYPE, PARSED_FULL_SCHEMA, PARSED_LINK_FIELDS,
    PARSED_SCHEMA)

_FULL_COLS = [f.name for f in PARSED_FULL_SCHEMA.fields]
_FIELDS = {f.name: f for f in PARSED_FULL_SCHEMA.fields}
# web-graph columns (kernel/links.py) — the kernel walks for them only when
# a consumer names one
_LINK_COLS = frozenset(f.name for f in PARSED_LINK_FIELDS)
# columns copied from the input row, with the value used when it lacks them
_PASSTHROUGH = {"url": None, "warc_ts": None, "lang": "", "part_key": 0,
                "content_hash": 0}


def _structs(key, names):
    """Getter: the result's `key` tuples as struct dicts (None stays None,
    which the explode of an absent nodes arena drops)."""
    def get(r):
        rows = r[key]
        return None if rows is None else [dict(zip(names, t)) for t in rows]
    return get


# kernel output column -> getter on the parse_html result
_GETTERS = {
    **{c: itemgetter(c) for c in (
        "status", "title", "text", "main_text", "errors", "n_nodes",
        "n_elements", "base_href", "canonical", "robots_noindex",
        "robots_nofollow", "meta_description")},
    "spans": lambda r: [{"node_id": a, "start": b, "end": c}
                        for a, b, c in r["spans"]],
    "n_errors": lambda r: sum(r["errors"].values()),
    "links": _structs("links", LINK_TYPE.names),
    "nodes": _structs("nodes", NODE_TYPE.names),
}


def parsed_schema(columns=None):
    """PARSED_SCHEMA, or the canonical-ordered subset named by `columns`
    (which may also name the optional web-graph and nodes columns from
    PARSED_FULL_SCHEMA). Output-column pruning for the Python stage:
    Catalyst cannot prune through mapInPandas (the udf output is opaque to
    it), so a consumer that only needs e.g. status/counters declares its
    columns here and the kernel skips building + Arrow-shipping everything
    else — the manual equivalent of the column pruning every JVM operator
    gets for free."""
    if columns is None:
        return PARSED_SCHEMA
    want = set(columns)
    unknown = want - set(_FULL_COLS)
    if unknown:
        raise ValueError(f"unknown parsed columns: {sorted(unknown)}")
    return type(PARSED_SCHEMA)([_FIELDS[c] for c in _FULL_COLS if c in want])


def parse_batch(batches: Iterator[pd.DataFrame], extract: bool = True,
                columns=None) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in parsed_schema(columns).fields]
    want_links = not _LINK_COLS.isdisjoint(cols)
    want_nodes = "nodes" in cols
    decode_bytes = None
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        htmls = pdf["html"].tolist()
        # html_bytes means RAW CAPTURE bytes: measure before the transcode
        # rebinding below so lineage n_bytes and bench MB/s keep one meaning
        # whether or not the fused re-encode runs (run_pipeline only
        # guarantees content_hash stays raw; bytes must match it).
        raw_lens = ([len(h) if h is not None else 0 for h in htmls]
                    if "html_bytes" in cols else None)
        if "encoding" in pdf.columns:
            # charset transcode (run_pipeline(transcode=True)): the sniff
            # is a codegen column computed in the SAME scan projection, and
            # the re-encode happens here — where the page bytes have
            # already crossed the Arrow boundary for the parse — so the
            # stage costs one source scan and zero extra Python hops.
            if decode_bytes is None:
                from ..sources.charset import decode_bytes
            htmls = [h if h is None or e == "utf-8"
                     else decode_bytes(h, e).encode("utf-8")
                     for h, e in zip(htmls, pdf["encoding"].tolist())]
        urls = pdf["url"].tolist() if want_links else [None] * n
        results = [parse_html(html, fast=True, extract=extract,
                              want_dom=False, want_nodes=want_nodes,
                              want_links=want_links, page_url=url or "")
                   for html, url in zip(htmls, urls)]
        out = {}
        for c in cols:
            if c in _GETTERS:
                out[c] = list(map(_GETTERS[c], results))
            elif c == "html_bytes":
                out[c] = raw_lens
            else:
                out[c] = (pdf[c].tolist() if c in pdf.columns
                          else [_PASSTHROUGH[c]] * n)
        yield pd.DataFrame(out, columns=cols)
