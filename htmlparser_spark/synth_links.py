"""Deterministic synthetic corpus for the web-graph stage (links/meta).

Separate from synth.synth_pages so the existing pinned kernel oracles stay
bit-stable: this corpus exists to exercise cross-host <a href> outlinks,
<base>, <meta robots>, <link rel=canonical>, and <meta name=description> —
features the main corpus deliberately lacks.

Host popularity is skewed (7 hub hosts absorb ~half of all link targets) so
the derived host graph gives PageRank and host-cap queries a non-trivial
distribution, mirroring the head-heavy host histogram of a real crawl.
"""
from __future__ import annotations

import datetime as _dt
import random
from functools import partial

from ._rowmap import flat_map, id_range, one_row
from .synth import WORDS, EPOCH

_SCHEMES = ["javascript:void(0)", "mailto:ed@example.org",
            "data:text/plain,hi", "ftp://files.example/x"]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _target_host(rng: random.Random) -> str:
    # head-heavy: hubs take ~55% of targets, the long tail the rest
    if rng.random() < 0.55:
        return f"site{rng.randrange(7):03d}.example"
    return f"site{rng.randrange(7, 60):03d}.example"


def _href(rng: random.Random) -> str:
    roll = rng.random()
    m = rng.randrange(10000)
    if roll < 0.45:   # absolute cross-host
        return f"https://{_target_host(rng)}/p{m:05d}"
    if roll < 0.55:   # protocol-relative
        return f"//{_target_host(rng)}/q{m:05d}"
    if roll < 0.70:   # site-absolute path
        return f"/r/p{m:05d}"
    if roll < 0.80:   # relative with dot segments
        return f"../s{m % 7}/p{m:05d}?q={m % 13}#frag"
    if roll < 0.88:   # bare relative
        return f"p{m:05d}.html"
    if roll < 0.94:   # non-http scheme → no host edge
        return rng.choice(_SCHEMES)
    if roll < 0.97:   # uppercase scheme+host — resolution must lowercase host
        return f"HTTPS://SITE{rng.randrange(7):03d}.EXAMPLE/P{m:05d}"
    return ""         # empty href resolves to the (effective) base itself


def _anchor(rng: random.Random, href: str) -> str:
    """An UNCLOSED <a ...> — </a> hits the reference's in-body
    any-other-end-tag NotImplementedException, so anchors (like the main
    corpus's nav links) end only when the enclosing </div> pops them."""
    text = _words(rng, 1, 4)
    rel = ""
    r = rng.random()
    if r < 0.12:
        rel = ' rel="nofollow"'
    elif r < 0.16:
        rel = ' rel="sponsored NoFollow ugc"'
    elif r < 0.18:
        rel = ' rel="author"'
    if rng.random() < 0.06:  # uppercase tag/attr — tokenizer lowercases
        return f'<A HREF="{href}"{rel}>{text} '
    if rng.random() < 0.04:  # duplicate href attrs — first wins (Q17 lookup)
        return f'<a href="{href}" href="/dup">{text} '
    return f'<a href="{href}"{rel}>{text} '


def gen_link_page(seed: int, i: int):
    rng = random.Random(f"link:{seed}:{i}")
    host = (f"site{i % 7:03d}.example" if i % 3 == 0
            else f"site{7 + i % 53:03d}.example")
    url = f"https://{host}/d{i % 5}/p{i:06d}.html"
    ts = EPOCH + _dt.timedelta(seconds=i)
    head_parts = ['<meta charset="utf-8">',
                  f"<title>{_words(rng, 2, 5)}</title>"]
    if rng.random() < 0.10:
        base = (f"https://cdn{rng.randrange(4)}.example/assets/"
                if rng.random() < 0.6 else "/b/")
        head_parts.append(f'<base href="{base}">')
    if rng.random() < 0.12:
        content = rng.choice(["noindex", "noindex, nofollow", "NOFOLLOW",
                              "index, follow", "none"])
        head_parts.append(f'<meta name="robots" content="{content}">')
    if rng.random() < 0.30:
        canon = (url if rng.random() < 0.5
                 else f"https://{_target_host(rng)}/canon/p{i:06d}")
        head_parts.append(f'<link rel="canonical" href="{canon}">')
    if rng.random() < 0.40:
        head_parts.append(
            f'<meta name="description" content="{_words(rng, 4, 10)}">')
    body_parts = [f'<div class="content">{_words(rng, 20, 60)}.</div>']
    for _ in range(rng.randint(3, 10)):
        href = _href(rng)
        body_parts.append(
            f"<div>{_words(rng, 3, 8)} {_anchor(rng, href)}</div>")
    if rng.random() < 0.06:  # anchor with no href — not a link
        body_parts.append(f"<div><a name=x>{_words(rng, 1, 3)}</div>")
    html = (f'<!DOCTYPE html><html lang="en"><head>{"".join(head_parts)}'
            f'</head><body>{"".join(body_parts)}</body></html>')
    lang = ["en", "de", "fr"][i % 3]
    return url, ts, html.encode("utf-8"), "", lang


def synth_link_pages(spark, n_rows: int, seed: int = 42,
                     partitions: int | None = None):
    """Distributed deterministic link corpus as a DataFrame(PAGES_SCHEMA)."""
    from .pipeline.schema import PAGES_SCHEMA
    return flat_map(id_range(spark, n_rows, partitions),
                    partial(one_row, gen_link_page, seed), ["id"],
                    PAGES_SCHEMA)
