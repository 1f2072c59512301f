"""Link + page-metadata extraction from the parsed DOM (web-graph stage).

The reference stops at main-content extraction; a Common-Crawl curation
pipeline also needs the page's OUTLINKS (the web graph that feeds host-level
PageRank / spam scoring) and its indexing metadata (<base>, <meta robots>,
<link rel=canonical>, <meta name=description>). This module walks the same
arena DOM the extractor builds (parser.py D1-D6) — one parse serves both.

Resolution follows RFC 3986 via urllib.parse.urljoin (public stdlib):
  effective_base = urljoin(page_url, first <base href>) if present else page_url
  href_abs       = urljoin(effective_base, href)
Per the HTML spec only the FIRST <base> with an href participates; we apply
it to every link in the document (resolution happens after parsing, so
document order of <base> vs <a> does not matter here — documented quirk).

dst_host is the lowercased hostname for http(s) targets and "" otherwise
(javascript:/mailto:/data: links carry no host edge).
"""
from __future__ import annotations

from urllib.parse import urljoin, urlsplit

from .tokenizer import to_wellformed

_EMPTY_META = {
    "base_href": "", "canonical": "", "robots_noindex": False,
    "robots_nofollow": False, "meta_description": "",
}


def _attr(node, name: str):
    """First attribute with this lowercase name (Q17 keeps duplicates in
    order; the spec resolves lookups to the first occurrence)."""
    attrs = node.attributes
    if not attrs:
        return None
    for k, v in attrs:
        if k == name:
            return v
    return None


def _rel_tokens(value: str) -> set:
    """rel= is a set of ASCII-whitespace-separated tokens (HTML spec
    'space-separated tokens') — a comma is PART of a token there, so
    rel="foo,nofollow" is the single unknown token 'foo,nofollow', not a
    nofollow."""
    return {t for t in value.lower().split() if t}


def _robots_tokens(value: str) -> set:
    """<meta robots content=> directives are comma-separated (whitespace
    around each directive ignored) per the robots-meta grammar."""
    return {t for t in value.lower().replace(",", " ").split() if t}


ANCHOR_TEXT_CAP = 80  # UTF-16 code units


def _bounded_text(node, limit: int = ANCHOR_TEXT_CAP) -> str:
    """First `limit` code units of the subtree text. The bound is
    load-bearing, not cosmetic: this parser keeps the reference's Q9 quirk
    (block end tags are ignored — scope stubs return False), so an <a>
    element never closes and its subtree runs to end-of-document. An
    uncapped collector would make the links table O(page²); bounding the
    walk keeps it O(cap) per anchor, matching how production link corpora
    truncate anchor text anyway."""
    out = []
    have = 0
    stack = [iter(node.children)]
    while stack and have < limit:
        try:
            child = next(stack[-1])
        except StopIteration:
            stack.pop()
            continue
        if child.kind == "Text":
            data = child.data[:limit - have]
            out.append(data)
            have += len(data)
        else:
            stack.append(iter(child.children))
    return "".join(out)


def _safe_join(base: str, ref: str) -> str:
    try:
        return urljoin(base, ref)
    except ValueError:
        return ""


def _host_of(url: str) -> str:
    try:
        parts = urlsplit(url)
    except ValueError:
        return ""
    if parts.scheme not in ("http", "https"):
        return ""
    host = parts.hostname
    return host.lower() if host else ""


def extract_links(document, page_url: str) -> tuple[list, dict]:
    """Walk the DOM once; return (links, meta).

    links: list of (seq, href_raw, href_abs, dst_host, anchor_text, nofollow)
    meta:  {base_href, canonical, robots_noindex, robots_nofollow,
            meta_description}
    """
    anchors = []          # (node, href_raw) in preorder
    base_href = None      # first <base href> wins
    canonical_raw = None  # first <link rel~=canonical href> wins
    description = None    # first <meta name=description content> wins
    noindex = False
    nofollow_page = False
    stack = [document]
    pop = stack.pop
    push = stack.append
    while stack:
        node = pop()
        tag = node.tag_name
        if tag == "a":
            href = _attr(node, "href")
            if href is not None:
                anchors.append((node, href))
        elif tag == "base":
            if base_href is None:
                href = _attr(node, "href")
                if href is not None:
                    base_href = href
        elif tag == "link":
            if canonical_raw is None:
                rel = _attr(node, "rel")
                if rel is not None and "canonical" in _rel_tokens(rel):
                    href = _attr(node, "href")
                    if href is not None:
                        canonical_raw = href
        elif tag == "meta":
            name = _attr(node, "name")
            name = name.lower() if name is not None else ""
            if name == "robots":
                content = _attr(node, "content")
                if content is not None:
                    toks = _robots_tokens(content)
                    noindex = noindex or "noindex" in toks or "none" in toks
                    nofollow_page = (nofollow_page or "nofollow" in toks
                                     or "none" in toks)
            elif name == "description" and description is None:
                content = _attr(node, "content")
                if content is not None:
                    description = content
        children = node.children
        if children:
            # preorder: push reversed so the first child pops first
            for child in reversed(children):
                push(child)
    base_raw = to_wellformed(base_href) if base_href is not None else ""
    eff_base = (_safe_join(page_url, base_raw) if base_raw else page_url)
    links = []
    for seq, (node, href) in enumerate(anchors):
        href_raw = to_wellformed(href)
        href_abs = _safe_join(eff_base, href_raw)
        rel = _attr(node, "rel")
        nofollow = (nofollow_page
                    or (rel is not None and "nofollow" in _rel_tokens(rel)))
        anchor_text = to_wellformed(_bounded_text(node))
        links.append((seq, href_raw, href_abs, _host_of(href_abs),
                      anchor_text, bool(nofollow)))
    canonical = (_safe_join(eff_base, to_wellformed(canonical_raw))
                 if canonical_raw is not None else "")
    meta = {
        "base_href": base_raw,
        "canonical": canonical,
        "robots_noindex": bool(noindex),
        "robots_nofollow": bool(nofollow_page),
        "meta_description": (to_wellformed(description)
                             if description is not None else ""),
    }
    return links, meta

