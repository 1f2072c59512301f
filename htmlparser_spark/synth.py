"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1/§3).

No external data: pages are generated from a seeded per-id RNG, so any row is
reproducible from (seed, i) alone. Generation is distributed — an id range
DataFrame is expanded to pages by ``_rowmap.flat_map`` — so bench-scale
corpora (≥500 MB raw HTML) never bottleneck on the driver.

Mix (FIXTURES.md §3): 70% clean skeleton, 10% entity-heavy, 10% script/style
heavy, 5% malformed-tag mutations, 5% crasher constructs (expected error
rows). ~1% huge pages (≥256 KiB) exercise skew salting; ~0.5% get invalid
UTF-8 byte injections; ~5% of urls get a duplicate row with a later warc_ts
(exercises S6 dedup). Hot-host skew: even ids map to 10 hosts, odd ids to
1000 hosts.
"""
from __future__ import annotations

import datetime as _dt
import random
from functools import partial

from ._rowmap import flat_map, id_range, one_row

WORDS = ("the quick brown fox jumps over a lazy dog while zephyrs vex "
         "daft jim pack my box with five dozen liquor jugs amazingly "
         "sphinx of black quartz judge my vow bright vixens jump").split()
ENTS = ["&amp;", "&nbsp;", "&lt;", "&gt;", "&copy;", "&eacute;", "&amp",
        "&bogus;", "&#32;", "&#x41;", "&#xff;", "&Afr;"]
LANGS = ["en", "de", "fr", "zh", ""]
EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)


def _sentences(rng: random.Random, n: int, entity_rate: float = 0.0) -> str:
    out = []
    for _ in range(n):
        k = rng.randint(5, 14)
        words = [rng.choice(WORDS) for _ in range(k)]
        if entity_rate and rng.random() < entity_rate:
            words.insert(rng.randrange(len(words)), rng.choice(ENTS))
        out.append(" ".join(words) + ".")
    return " ".join(out)


def _clean_page(rng: random.Random, huge: bool = False) -> str:
    title = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))
    nblocks = rng.randint(5, 30)
    blocks = []
    for _ in range(nblocks):
        cls = rng.choice(["content", "article-body", "post", "entry", "main-text"])
        blocks.append(f'<div class="{cls}">{_sentences(rng, rng.randint(2, 8))}</div>')
    if huge:
        filler = f'<div class="content">{_sentences(rng, 40)}</div>'
        blocks.extend([filler] * (1 + (1 << 18) // max(len(filler), 1)))
    nav = ('<div class="nav">' + "".join(
        f'<a href="/p{rng.randint(0, 99)}">{rng.choice(WORDS)} ' for _ in range(4))
        + "</div>")
    footer = ('<div class="footer">' + "".join(
        f'<a href="/f{i}">{rng.choice(WORDS)} ' for i in range(3)) + "</div>")
    head = (f'<head><meta charset="utf-8"><title>{title}</title>'
            f"<style>body{{margin:{rng.randint(0, 9)}px}}</style></head>")
    # nav sits before content; unclosed <a> tags nest, so nav anchor text
    # swallows only the nav div's own words (divs are separate subtrees only
    # until the ignored </div>… keep nav last-but-content-first to bound it)
    return (f'<!DOCTYPE html><html lang="en">{head}'
            f"<body>{''.join(blocks)}{nav}{footer}</body></html>")


def _entity_page(rng: random.Random) -> str:
    body = "".join(
        f'<div class="content">{_sentences(rng, rng.randint(1, 4), entity_rate=0.8)}</div>'
        for _ in range(rng.randint(3, 10)))
    return ("<!DOCTYPE html><html><head><title>entities &amp; more</title>"
            f"</head><body>{body}</body></html>")


def _script_page(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(2, 6)):
        js = f"var x{rng.randint(0, 9)} = {rng.randint(0, 999)}; if (x < {rng.randint(1, 9)}) {{ y(); }}"
        parts.append(f'<script type="text/javascript">{js}</script>')
        parts.append(f"<style>.c{rng.randint(0, 9)}{{width:{rng.randint(1, 99)}px}}</style>")
    body = f'<div class="content">{_sentences(rng, rng.randint(3, 10))}</div>'
    return ("<!DOCTYPE html><html><head><title>scripts</title>"
            f"{''.join(parts[:2])}</head><body>{body}{''.join(parts[2:])}</body></html>")


def _malformed_page(rng: random.Random) -> str:
    choice = rng.randrange(5)
    text = _sentences(rng, 3)
    if choice == 0:  # self-closing tags vanish (Q1)
        body = f"a<br/>b<hr/>{text}"
    elif choice == 1:  # numeric tag re-emitted as text
        body = f"a<123>{text}"
    elif choice == 2:  # duplicate attributes kept (Q17)
        body = f'<div a="1" a="2" A="3">{text}'
    elif choice == 3:  # processing instruction truncates (Q5)
        body = f"{text}<?php echo 1; ?>never seen"
    else:  # unquoted attr value with quote truncates (Q6)
        body = f'{text}<div a=b"c>never seen'
    return f"<!DOCTYPE html><html><head><title>m</title></head><body>{body}"


def _crasher_page(rng: random.Random) -> str:
    text = _sentences(rng, 2)
    return rng.choice([
        f"<html><!-- comment -->{text}",
        f"<html><body><h1>{text}</h1>",
        f"<html><body><form><input>{text}",
        f"<html><body><table><tr><td>{text}</td>",
        f"<html><body><ul><li>{text}<li>more",
        f"<html><body>{text}</body></html>trailing",
        f"<html><body><pre>{text}</pre>",
        "<html><body><br/",
    ])


def gen_page(seed: int, i: int) -> tuple[str, _dt.datetime, bytes, str, str]:
    rng = random.Random(f"{seed}:{i}")
    host = (i % 10) if i % 2 == 0 else (i % 1000)
    url = f"https://host{host:04d}.example/p{i:08d}"
    ts = EPOCH + _dt.timedelta(seconds=i)
    roll = rng.random()
    huge = rng.random() < 0.01
    if roll < 0.70:
        html = _clean_page(rng, huge=huge)
    elif roll < 0.80:
        html = _entity_page(rng)
    elif roll < 0.90:
        html = _script_page(rng)
    elif roll < 0.95:
        html = _malformed_page(rng)
    else:
        html = _crasher_page(rng)
    data = html.encode("utf-8")
    if rng.random() < 0.005:  # invalid UTF-8 injection → U+FFFD on decode
        pos = rng.randrange(max(len(data) - 10, 1))
        data = data[:pos] + b"\xc3\x28\xff" + data[pos:]
    lang = LANGS[i % len(LANGS)]
    return url, ts, data, "", lang


def page_rows(seed: int, i: int) -> list[tuple]:
    """Page i, plus a later snapshot of its url for ~5% of ids (S6)."""
    rows = [gen_page(seed, i)]
    if i % 20 == 0:
        url, ts, _data, text, lang = rows[0]
        html2 = _clean_page(random.Random(f"{seed}:{i}:dup"))
        rows.append((url, ts + _dt.timedelta(days=1), html2.encode("utf-8"),
                     text, lang))
    return rows


def gen_rows(seed: int, ids) -> list[tuple]:
    return [row for i in ids for row in page_rows(seed, int(i))]


def synth_pages(spark, n_rows: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic corpus as a DataFrame(PAGES_SCHEMA)."""
    from .pipeline.schema import PAGES_SCHEMA
    return flat_map(id_range(spark, n_rows, partitions),
                    partial(page_rows, seed), ["id"], PAGES_SCHEMA)


# --- mixed-encoding corpus for the charset sniff/transcode stage ------------

# Per-encoding body samples — every string must round-trip through its own
# codec (cp1252 cannot encode CJK, Shift_JIS cannot encode most of Latin-1
# supplement), so each class gets text its charset can actually represent.
CHARSET_SAMPLES = {
    "utf-8": "café – déjà vu — 中文テキスト €42 ©",
    "windows-1252": "café déjà vu – naïve façade £9 ©®",
    "shift_jis": "日本語のテキストです。カタカナとｶﾀｶﾅ。",
    "gb18030": "简体中文文本，网页内容示例。",
    "utf-16le": "UTF-16 little – café 中文 🙂",
    "utf-16be": "UTF-16 big – naïve 日本語 🙂",
}

_CHARSET_CODECS = {
    "utf-8": "utf-8", "windows-1252": "cp1252", "shift_jis": "shift_jis",
    "gb18030": "gb18030", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def gen_charset_page(seed: int, i: int) -> tuple[str, _dt.datetime, bytes, str, str]:
    """One deterministic page in one of 10 declaration/encoding classes
    (per i % 10) — BOM pages, meta-declared legacy charsets, alias labels,
    the WHATWG meta-utf-16→utf-8 quirk, and undeclared cp1252 mojibake."""
    rng = random.Random(f"{seed}:cs:{i}")
    url = f"https://cs{i % 7:02d}.example/enc/p{i:06d}"
    ts = EPOCH + _dt.timedelta(seconds=i)
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 18)))
    cls = i % 10

    def page(meta: str, sample: str) -> str:
        return (f"<!DOCTYPE html><html><head>{meta}<title>t{i}</title>"
                f'</head><body><div class="content">{sample} {words}'
                f"</div></body></html>")

    if cls <= 2:        # plain utf-8, meta-declared (the common case)
        label = ["utf-8", "UTF-8", "utf8"][cls]
        data = page(f'<meta charset="{label}">',
                    CHARSET_SAMPLES["utf-8"]).encode("utf-8")
    elif cls == 3:      # utf-8 with BOM, no meta
        data = b"\xef\xbb\xbf" + page(
            "", CHARSET_SAMPLES["utf-8"]).encode("utf-8")
    elif cls == 4:      # windows-1252 via <meta charset>
        data = page('<meta charset="windows-1252">',
                    CHARSET_SAMPLES["windows-1252"]).encode("cp1252")
    elif cls == 5:      # latin-1 label via the http-equiv form → cp1252
        meta = ('<meta http-equiv="Content-Type" '
                'content="text/html; charset=iso-8859-1">')
        data = page(meta, CHARSET_SAMPLES["windows-1252"]).encode("cp1252")
    elif cls == 6:      # Shift_JIS via meta
        data = page('<meta charset="Shift_JIS">',
                    CHARSET_SAMPLES["shift_jis"]).encode("shift_jis")
    elif cls == 7:      # gb2312 label → gb18030 superset
        data = page('<meta charset="gb2312">',
                    CHARSET_SAMPLES["gb18030"]).encode("gb18030")
    elif cls == 8:      # UTF-16 with BOM (alternating endianness); any meta
        # is unreadable in the latin-1 prescan — BOM must decide
        enc = "utf-16le" if (i // 10) % 2 == 0 else "utf-16be"
        bom = b"\xff\xfe" if enc == "utf-16le" else b"\xfe\xff"
        data = bom + page('<meta charset="utf-8">',
                          CHARSET_SAMPLES[enc]).encode(_CHARSET_CODECS[enc])
    else:               # cls 9: two sub-cases of "declaration is wrong/absent"
        if (i // 10) % 2 == 0:
            # spec quirk: meta says utf-16 but bytes are utf-8 → treat utf-8
            data = page('<meta charset="utf-16">',
                        CHARSET_SAMPLES["utf-8"]).encode("utf-8")
        else:
            # undeclared cp1252 bytes → default utf-8 decode with U+FFFD
            # replacement (the deterministic mojibake a real corpus carries)
            data = page("", CHARSET_SAMPLES["windows-1252"]).encode("cp1252")
    return url, ts, data, "", "en"


def expected_charset_text(seed: int, i: int) -> str:
    """Ground truth for tests: what charset-aware decode must produce for
    page i — the page decoded with the encoding its class actually used
    (or the utf-8-replacement text for the undeclared-cp1252 class)."""
    url, ts, data, _, _ = gen_charset_page(seed, i)
    cls = i % 10
    if cls == 8:
        enc = "utf-16-le" if (i // 10) % 2 == 0 else "utf-16-be"
    elif cls == 9 and (i // 10) % 2 == 1:
        enc = "utf-8"  # undeclared: default path, replacement chars appear
    elif cls in (4, 5):
        enc = "cp1252"
    elif cls == 6:
        enc = "shift_jis"
    elif cls == 7:
        enc = "gb18030"
    else:
        enc = "utf-8"
    s = data.decode(enc, "replace")
    return s[1:] if s[:1] == "﻿" else s


def synth_charset_pages(spark, n_rows: int, seed: int = 42,
                        partitions: int | None = None):
    """Distributed deterministic mixed-encoding corpus (pages schema)."""
    from .pipeline.schema import PAGES_SCHEMA
    return flat_map(id_range(spark, n_rows, partitions),
                    partial(one_row, gen_charset_page, seed), ["id"],
                    PAGES_SCHEMA)
