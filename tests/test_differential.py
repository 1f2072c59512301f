"""Differential tests: fast (run-skipping) kernel == slow (per-char) kernel.

SURVEY.md §5.2 item 3. A seeded subset-grammar generator emits documents
biased toward constructs the kernel supports, plus targeted mutations that
hit error rows; every document must produce identical (status, dom_s, text,
main_text, spans, errors) in both modes.
"""
import json
import os
import random
from pathlib import Path

import pytest

from htmlparser_spark.kernel import parse_html

# the reference repository's sample page (test.html), as committed in the
# golden fixtures
REFERENCE_SAMPLE = next(
    case["html"] for case in json.loads(
        (Path(__file__).resolve().parent.parent / "fixtures"
         / "test_html.json").read_text())
    if case["name"] == "reference-sample")

TAGS = ["div", "span", "p", "ul", "li", "a", "b", "i", "title", "script",
        "style", "meta", "link", "br", "table", "h1", "form", "template",
        "button", "nav", "footer", "article", "section"]
ENTITIES = ["&amp;", "&nbsp;", "&lt;", "&bogus;", "&amp", "&#32;", "&#x41;",
            "&#xff;", "&Afr;", "&", "&#", "&#x", "&notin;", "&AMP"]
SNIPPETS = ["hello world", "a < b", "x > y", "  \t\n ", "\x00", "\r\n",
            "café ☕ 𝔘nicode", "1<2 & 3>4", "<!-- c -->", "<![CDATA[x]]>",
            "<?php ?>", "<!doctype html>", "<!DOCTYPE html>", "</>", "<123>",
            "</br>", "<br/>", "<div/x>", "text"]


def gen_doc(rng: random.Random) -> str:
    parts = []
    if rng.random() < 0.7:
        parts.append("<!DOCTYPE html>")
    parts.append("<html>")
    if rng.random() < 0.8:
        parts.append("<head>")
        if rng.random() < 0.6:
            parts.append(f"<title>{rng.choice(SNIPPETS)}</title>")
        if rng.random() < 0.3:
            parts.append('<meta charset="utf-8">')
        if rng.random() < 0.3:
            parts.append(f"<style>p{{x:{rng.randint(0, 9)}}}</style>")
        parts.append("</head>")
    parts.append("<body" + rng.choice(["", ' class="main"', " disabled",
                                       ' a=1 a=2', ' x="&amp;&#32;"']) + ">")
    for _ in range(rng.randint(0, 12)):
        roll = rng.random()
        if roll < 0.35:
            parts.append(rng.choice(SNIPPETS))
        elif roll < 0.5:
            parts.append(rng.choice(ENTITIES))
        elif roll < 0.8:
            t = rng.choice(TAGS)
            attrs = ""
            if rng.random() < 0.5:
                q = rng.choice(['"', "'", ""])
                attrs = f" {rng.choice(['id', 'class', 'x'])}={q}{rng.choice(['v', 'nav', 'a b', '&amp;'])}{q}"
            parts.append(f"<{t}{attrs}>")
            if rng.random() < 0.7:
                parts.append(rng.choice(SNIPPETS))
            if rng.random() < 0.7:
                parts.append(f"</{t}>")
        else:
            parts.append(f"</{rng.choice(TAGS)}>")
    if rng.random() < 0.7:
        parts.append("</body>")
    if rng.random() < 0.6:
        parts.append("</html>")
    doc = "".join(parts)
    # targeted truncation mutations (EOF edges)
    if rng.random() < 0.15:
        doc = doc[: rng.randint(0, len(doc))]
    return doc


FIELDS = ("status", "dom_s", "text", "main_text", "spans", "errors", "title",
          "n_nodes", "n_elements")


def assert_equal_modes(html):
    fast = parse_html(html, fast=True)
    slow = parse_html(html, fast=False)
    for f in FIELDS:
        assert fast[f] == slow[f], (f, html)


# default: 40 seeds x 25 docs per suite run; set SPARK_GRAFT_DIFF_SEEDS for
# the big pre-round sweeps (e.g. 8000 -> 200k docs)
N_DIFF_SEEDS = int(os.environ.get("SPARK_GRAFT_DIFF_SEEDS", "40"))


@pytest.mark.parametrize("seed", range(N_DIFF_SEEDS))
def test_differential_random(seed):
    rng = random.Random(seed)
    for _ in range(25):
        assert_equal_modes(gen_doc(rng))


def test_differential_reference_sample():
    assert_equal_modes(REFERENCE_SAMPLE)


@pytest.mark.parametrize("html", [
    "", "&", "<", "x<", "x&", "<title>x<", "<br/", "a&#x", "a&#",
    "\x00\x00", "<div", "<div ", "<div a", "<div a=", '<div a="', "<!",
    "<!-", "<!--", "<!-- x", "<!-- x -", "<!-- x --", "<!DOCTYPE",
    "<!DOCTYPE ", "<!DOCTYPE h", "<script>", "<script>-", "<script><!--",
    "<script><!-- x", "<script><!-- <script>", "</", "</x", "<style>a<b",
])
def test_differential_eof_edges(html):
    assert_equal_modes(html)


def test_differential_budget_trip_regression():
    """`<hr "` hits the C# EOF-reconsume infinite loop; our step budget
    determinizes it, and fast mode must fall back to per-char so the error
    counters are bit-identical (found by mutation fuzz)."""
    assert_equal_modes('<hr "')
    r = parse_html('<hr "', fast=True)
    assert r["status"] == "err:tokenizer-loop"


@pytest.mark.parametrize("seed", range(10))
def test_differential_byte_mutations(seed):
    """Byte-level mutations of grammar docs (invalid UTF-8, truncated tags,
    stray control bytes) must stay mode-identical."""
    rng = random.Random(9000 + seed)
    for _ in range(30):
        doc = gen_doc(rng)
        b = bytearray(doc.encode("utf-8", "surrogatepass"))
        for _ in range(rng.randint(1, 4)):
            if b:
                b[rng.randrange(len(b))] = rng.randrange(256)
        a = parse_html(bytes(b), fast=True, want_dom=True)
        s = parse_html(bytes(b), fast=False, want_dom=True)
        assert a == s
