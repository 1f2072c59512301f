"""Per-quirk unit tests (SURVEY.md §2.5, corrected by direct source reads).

Each test pins the as-written behavior of the reference (file:line cited) —
NOT the WHATWG spec. Expected values were derived by hand from the C# source.
"""
import json
from pathlib import Path

import pytest

from htmlparser_spark.kernel import parse_html, tokenize

# the reference repository's sample page (test.html), as committed in the
# golden fixtures
REFERENCE_SAMPLE = next(
    case["html"] for case in json.loads(
        (Path(__file__).resolve().parent.parent / "fixtures"
         / "test_html.json").read_text())
    if case["name"] == "reference-sample")


def toks(html, **kw):
    tokens, errors = tokenize(html, **kw)
    return tokens, errors


def merged_chars(tokens):
    """Merge adjacent chars tokens (fast mode batches them)."""
    out = []
    for t in tokens:
        if t[0] == "chars" and out and out[-1][0] == "chars":
            out[-1] = ("chars", out[-1][1] + t[1])
        else:
            out.append(list(t) if t[0] == "chars" else t)
    return [tuple(t) if isinstance(t, list) else t for t in out]


# --- Q1: self-closing start tags are never emitted (HTMLTokenizer.cs:765-772)
def test_q1_self_closing_never_emitted():
    tokens, _ = toks("<br/>x")
    assert merged_chars(tokens) == [("chars", "x"), ("eof",)]


def test_q1_self_closing_swallows_chars():
    # non-'>' chars in SelfClosingStartTag are swallowed
    tokens, _ = toks("<div/abc>x")
    assert merged_chars(tokens) == [("chars", "x"), ("eof",)]


def test_q1_self_closing_eof_hang_determinized():
    r = parse_html("<br/")
    assert r["status"] == "err:selfclosing-eof"


# --- Q2: keyword matching is exact-case (to_lower both sides, :1674-1676,1730-1737)
def test_q2_lowercase_doctype_is_bogus_comment_dropped():
    tokens, errors = toks("<!doctype html>x")
    assert merged_chars(tokens) == [("chars", "x"), ("eof",)]
    assert errors.get("incorrectly-opened-comment") == 1


def test_q2_exact_doctype_matches():
    tokens, _ = toks("<!DOCTYPE html>")
    assert tokens[0] == ("doctype", "html", None, None, False)


def test_q2_doctypeless_page_is_quirks_parse():
    r = parse_html("<!doctype html><html><head></head><body>x</body></html>")
    assert r["status"] == "ok"
    assert r["text"] == "x"


# --- Q3: numeric character references decode to empty (:1526-1527)
def test_q3_decimal_ref_vanishes():
    tokens, errors = toks('<body x="a&#32;b">')
    assert tokens[0][3] == [("x", "ab")]
    assert errors == {}


def test_q3_decimal_ref_vanishes_in_data():
    r = parse_html("<html><body>a&#65;b</body></html>")
    assert r["text"] == "ab"


# --- Q4: hex predicates broken (:1658-1666)
def test_q4_hex_with_digits_takes_absence_path():
    tokens, errors = toks("a&#x41;b")
    assert merged_chars(tokens) == [("chars", "a&#x41;b"), ("eof",)]
    assert errors == {"absence-of-digits-in-numeric-character-reference": 1}


def test_q4_hex_letters_accepted_but_empty():
    tokens, errors = toks("a&#xff;b")
    assert merged_chars(tokens) == [("chars", "ab"), ("eof",)]
    assert errors == {}  # value 799: no control/null error, decodes to ""


# --- Q5: <? emits < then EOF (truncation, :101-104)
def test_q5_processing_instruction_truncates():
    tokens, errors = toks("a<?pi?>b")
    assert merged_chars(tokens) == [("chars", "a<"), ("eof",)]
    assert errors == {"unexpected-question-mark-instead-of-tag-name": 1}


# --- Q6: unquoted attr value meeting "'<=` emits EOF (:736-738)
def test_q6_unquoted_value_quote_truncates():
    tokens, errors = toks('<div a=b"c>x')
    assert tokens == [("eof",)]
    assert errors == {"unexpected-character-in-attribute-name": 1}
    r = parse_html('<div a=b"c>x')
    assert r["status"] == "ok"
    assert r["dom_s"] == "[Document]\n"  # truncated before anything built


# --- Q7: ScriptDataEscaped NUL emits EOF (:382-384)
def test_q7_script_escaped_nul_truncates():
    tokens, _ = toks("<script>", fast=True)
    r = parse_html("<html><head><script><!-- a\x00b --></script>x")
    # NUL inside escaped script truncates: parse returns at EOF token
    assert r["status"] == "ok"
    assert "b" not in r["text"]


# --- Q8: pop_element_until pops one extra (HTMLParser.cs:878-885)
def test_q8_li_end_tag_double_pop():
    r = parse_html("<html><body><ul><li>1</li><li>2</li></ul></body></html>")
    # first </li> pops li AND ul; second li lands under body; second </li>
    # pops li AND body; </ul> end tag in body: scope stub → error-ignored;
    # </body> ignored (body no longer on stack... html remains) etc.
    lines = r["dom_s"].splitlines()
    assert "      [HTMLElement]" in lines  # ul under body
    assert r["text"] == "12"


def test_q8_test_html_crashes_empty_stack():
    html = REFERENCE_SAMPLE.encode("utf-8")
    r = parse_html(html)
    assert r["status"] == "err:empty-stack"
    assert "[HTMLTitleElement]" in r["dom_s"]
    assert r["text"].endswith("3")


# --- Q9: scope stubs false → block end tags always ignored (:804-808,857-863)
def test_q9_div_end_ignored():
    r = parse_html("<html><body><p>a<div>b</div>c</body></html>")
    # p on stack → close_a_p_element pops p AND body (Q8); div inserted under
    # html; </div> error-ignored; c accretes in div
    assert r["status"] == "ok"
    assert r["text"] == "abc"
    assert "  [HTMLElement]\n" in r["dom_s"]  # div at depth 1 (under html)


# --- Q10: generate_implied_end_tags pops at most one (:888-898)
def test_q10_implied_end_tags_single_pop():
    # <p><p>: second p start: p on stack → close_a_p: gen_implied(except p)
    # → current IS p → return; pop_element_until(p) pops p + body → second p
    # under html
    r = parse_html("<html><body><p>a<p>b")
    assert r["status"] == "ok"
    assert r["text"] == "ab"


# --- Q11 (corrected): ANY DocumentType append throws HierarchyRequestError
# (DOM/Node.cs:447 checks node.parent_node instead of parent)
def test_q11_doctype_html_leaves_no_node():
    r = parse_html("<!DOCTYPE html><html><body>x</body></html>")
    assert r["status"] == "ok"
    assert "[DocumentType]" not in r["dom_s"]


def test_q11_other_doctype_crashes_hierarchy_request():
    r = parse_html("<!DOCTYPE foo><html></html>")
    assert r["status"] == "err:dom:hierarchy-request"


def test_q11_doctype_public_id_never_recognized():
    # "PUBLIC" keyword can never match (try_consume peeks after the consumed
    # char, HTMLTokenizer.cs:1046 + :1753) → bogus doctype, public id None,
    # name html → no append → no crash
    r = parse_html('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01//EN"><html><body>x')
    assert r["status"] == "ok"
    assert r["text"] == "x"


def test_q11_doubled_public_keyword_crashes():
    r = parse_html('<!DOCTYPE html PPUBLIC "x"><html></html>')
    assert r["status"] == "err:dom:hierarchy-request"


# --- Q12: DOCTYPE name casing (:984-986 vs :1014-1016)
def test_q12_doctype_name_first_char_only_lowered():
    tokens, _ = toks("<!DOCTYPE HTML>")
    assert tokens[0] == ("doctype", "hTML", None, None, False)
    tokens, _ = toks("<!DOCTYPE Html>")
    assert tokens[0] == ("doctype", "html", None, None, False)


# --- Q13: </body> </html> </br> ignored in in-head / after-head
def test_q13_end_body_in_head_ignored():
    r = parse_html("<html><head></body><title>t</title></head><body>x")
    assert r["status"] == "ok"
    assert r["title"] == "t"
    assert r["errors"].get("parse error", 0) >= 1


# --- Q14: <html> in in-head pops head (missing return, :370-373)
def test_q14_html_in_head_pops_head():
    r = parse_html("<html><head><html><body>x")
    assert r["status"] == "ok"
    assert r["text"] == "x"
    assert r["errors"].get("parse error", 0) >= 2


# --- Q15: before-head anything-else inserts the CURRENT token's element
def test_q15_body_becomes_head_pointer():
    r = parse_html("<html><body>x</body></html>")
    # first <body> inserted as the "head", popped by in-head anything-else
    # reprocess, then a second body element created
    assert r["status"] == "ok"
    assert r["dom_s"].count("[HTMLBodyElement]") == 2
    assert r["text"] == "x"


def test_q15_text_before_head_crashes():
    r = parse_html("<html>x<head>")
    assert r["status"] == "err:null-ref:create-element"


# --- Q17: duplicate attributes preserved in order (:625-646)
def test_q17_duplicate_attributes_kept():
    tokens, _ = toks('<div a="1" a="2" A="3">')
    assert tokens[0][3] == [("a", "1"), ("a", "2"), ("a", "3")]


# --- Q18 misc
def test_q18_bogus_comment_dropped_at_gt():
    tokens, errors = toks("<!junk>x")
    assert merged_chars(tokens) == [("chars", "x"), ("eof",)]


def test_q18_empty_comment_emitted_and_crashes_parser():
    tokens, _ = toks("<!-->x")
    assert tokens[0] == ("comment", "")
    r = parse_html("<!-->x")
    assert r["status"] == "err:not-implemented:comment"


def test_comment_crashes_parser():
    r = parse_html("<html><!-- hi --><body>x")
    assert r["status"] == "err:not-implemented:comment"


# --- named references (T13)
def test_named_reference_basic():
    r = parse_html("<html><body>a&amp;b&nbsp;c")
    assert r["text"] == "a&b\xa0c"


def test_named_reference_astral_surrogate_pair_recombined():
    r = parse_html("<html><body>x&Afr;y")
    assert r["text"] == "x\U0001d504y"


def test_named_reference_no_semicolon_attr_suppression():
    tokens, _ = toks('<a href="x&ampy">')
    assert tokens[0][3] == [("href", "x&ampy")]
    tokens, _ = toks('<a href="x&amp y">')
    assert tokens[0][3] == [("href", "x& y")]


def test_ambiguous_ampersand():
    # ';' in AmbiguousAmpersand: error + reconsume in return state → the ';'
    # is re-read as data and emitted (HTMLTokenizer.cs:1445-1447)
    r = parse_html("<html><body>x&bogus;y")
    assert r["text"] == "x&bogus;y"
    assert r["errors"].get("unknown-named-character-reference") == 1


# --- error-row taxonomy (§2.5.1)
def test_table_start_tags_are_generic_elements():
    # run_in_body_mode has NO table branch: <table>/<tr>/<td> fall to
    # any-other-start-tag and insert generically; InTable mode is unreachable
    r = parse_html("<html><body><table><tr><td>x")
    assert r["status"] == "ok"
    assert r["text"] == "x"


def test_table_end_tag_crashes():
    r = parse_html("<html><body><table>x</table>")
    assert r["status"] == "err:not-implemented:in-body-any-other-end-tag"


def test_h1_crashes():
    r = parse_html("<html><body><h1>x</h1>")
    assert r["status"] == "err:not-implemented:in-body-heading"


def test_form_crashes():
    r = parse_html("<html><body><form>")
    assert r["status"] == "err:not-implemented:in-body-form"


def test_template_crashes():
    r = parse_html("<html><head><template>")
    assert r["status"] == "err:not-implemented:template"


def test_any_other_end_tag_crashes():
    r = parse_html("<html><body><b><i>x</b></i>")
    assert r["status"] == "err:not-implemented:in-body-any-other-end-tag"


def test_li_start_with_li_current_drains_stack():
    # HTMLParser.cs:758 — `node` never reassigned → stack drains → crash
    r = parse_html("<html><body><ul><li>1<li>2")
    assert r["status"] == "err:empty-stack"


def test_after_after_body_crashes():
    r = parse_html("<html><body>x</body></html>y")
    assert r["status"] == "err:not-implemented:after-after-body"


def test_after_body_space_inserted_into_body():
    r = parse_html("<html><body>x</body> \n")
    assert r["status"] == "ok"
    assert r["text"] == "x \n"


def test_tokenizer_loop_determinized():
    r = parse_html("<html><head><title>abc<")
    assert r["status"] == "err:tokenizer-loop"


def test_script_rawtext_rcdata_modes():
    r = parse_html(
        "<html><head><title>a&amp;b</title><style>p{x:1}</style>"
        "<script>if(a<b){}</script></head><body>ok")
    assert r["status"] == "ok"
    assert r["title"] == "a&b"
    assert "if(a<b){}" in r["text"]
    assert r["text"].endswith("ok")


def test_script_double_escape():
    r = parse_html(
        "<html><head><script><!-- <script>x</script> --></script></head><body>ok")
    assert r["status"] == "ok"
    assert r["text"].endswith("ok")


def test_unterminated_script_returns_doc():
    r = parse_html("<html><head><script>var a=1;")
    assert r["status"] == "ok"
    assert "var a=1;" in r["text"]


def test_end_tag_case_insensitive_close():
    r = parse_html("<html><head><title>T</scrIPT></tiTLE></head><body>ok")
    assert r["status"] == "ok"
    # </scrIPT> not appropriate → re-emitted literally with ORIGINAL case
    # (temp buffer keeps the un-lowered chars, HTMLTokenizer.cs:206-207)
    assert r["text"] == "T</scrIPT>ok"


def test_skeleton_happy_path():
    r = parse_html(
        "<!DOCTYPE html><html><head><title>t</title></head><body>x</body></html>")
    assert r["status"] == "ok"
    assert r["dom_s"] == (
        "[Document]\n"
        "  [HTMLHtmlElement]\n"
        "    [HTMLHeadElement]\n"
        "      [HTMLTitleElement]\n"
        "        [Text: t]\n"
        "    [HTMLBodyElement]\n"
        "      [Text: x]\n"
    )
    assert r["text"] == "tx"
    assert r["errors"] == {}


def test_serializer_escapes():
    r = parse_html("<html><body>a b\tc\nd")
    assert "[Text: a\\sb\\tc\\nd]" in r["dom_s"]


def test_cr_is_space_class_token():
    # CR is a token-level space char (HTMLToken.cs:37-45) and is NOT
    # tokenizer whitespace; no CRLF normalization happens (Q16)
    r = parse_html("<html><head>\r<body>x")
    assert r["status"] == "ok"
    assert "\r" in r["text"]


def test_attrs_memo_never_mutated_across_parses():
    """_ATTRS_MEMO shares ONE parsed attribute list across every Tag (and
    Element, via tag.finished) carrying the same attribute string. That is
    only sound while nothing on the parse path mutates element attributes;
    this pins the invariant so a future feature (e.g. spec-style duplicate
    <html> attribute merging) that starts mutating them fails loudly here
    instead of silently corrupting unrelated documents."""
    import copy

    from htmlparser_spark.kernel import tokenizer as tk

    doc_a = (b'<html><body><div class="nav" id="x">one</div>'
             b'<div class="nav" id="x">two</div></body></html>')
    doc_b = (b'<html attr="h"><body><div class="nav" id="x">other</div>'
             b'<p class="nav">p</p></body></html>')

    tk._ATTRS_MEMO.clear()
    baseline_b = parse_html(doc_b, fast=True, extract=True)
    tk._ATTRS_MEMO.clear()

    first_a = parse_html(doc_a, fast=True, extract=True)
    snapshot = copy.deepcopy(tk._ATTRS_MEMO)
    assert snapshot  # the fast path actually memoized something
    # parses that REUSE the memoized lists must leave them byte-identical
    assert parse_html(doc_a, fast=True, extract=True) == first_a
    warm_b = parse_html(doc_b, fast=True, extract=True)
    assert warm_b == baseline_b  # warm-memo result == cold-memo result
    assert tk._ATTRS_MEMO.keys() >= snapshot.keys()
    for k, v in snapshot.items():
        assert tk._ATTRS_MEMO[k] == v, f"memo entry mutated for {k!r}"
