"""Unit tests for the HTML extraction kernel (SURVEY.md §5.3.1).

Pure pandas/python — no Spark. Each test targets one fixture template
branch from FIXTURES.md §1.1.
"""

import unicodedata

from ragflow_spark.kernels.htmlx import html_extract, normalize_text
from ragflow_spark.kernels.sniff import (
    CODE_EMPTY_PAYLOAD,
    CODE_OK,
    decode_payload,
    sniff_payload,
)


def text_of(payload: bytes) -> str:
    sections, code, _ = html_extract(payload)
    assert code == CODE_OK
    return "\n".join(t for _, t in sections)


def test_t01_boilerplate_strip():
    html = (
        b"<html><body><header><nav><a href='/'>Home</a></nav></header>"
        b"<article><h1>Title</h1><p>Real content paragraph one.</p>"
        b"<p>Second paragraph.</p></article>"
        b"<div class='sidebar'><a href='/x'>Link</a></div>"
        b"<div id='cookie-banner'>We use cookies</div>"
        b"<footer>(c) footer</footer></body></html>"
    )
    t = text_of(html)
    assert "Real content paragraph one." in t
    assert "Home" not in t and "cookies" not in t and "footer" not in t
    assert "Link" not in t


def test_t02_link_density():
    farm = "".join(f"<li><a href='/{i}'>link {i} text here</a></li>" for i in range(20))
    html = f"<body><p>Main body text of the page.</p><div><ul>{farm}</ul></div></body>".encode()
    t = text_of(html)
    assert "Main body text" in t
    assert "link 3 text" not in t


def test_t03_tables():
    html = (
        b"<body><table><tr><th>k</th><th>v</th></tr>"
        b"<tr><td>alpha</td><td>1</td></tr></table>"
        b"<table><tr><td><a href='/a'>a</a></td><td><a href='/b'>b</a></td></tr></table>"
        b"</body>"
    )
    sections, code, _ = html_extract(html)
    assert code == CODE_OK
    rows = [t for k, t in sections if k == "row"]
    assert "k\tv" in rows and "alpha\t1" in rows
    assert not any("a\tb" == r for r in rows)  # layout table dropped


def test_t04_script_style_comments():
    html = (
        b"<body><script>var x='SCRIPTTEXT';</script><style>.c{}</style>"
        b"<!-- COMMENTTEXT --><noscript>NOJS</noscript><p>keep me</p></body>"
    )
    t = text_of(html)
    assert t == "keep me"


def test_t05_entities():
    html = b"<body><p>Fish &amp; chips &#x2603;&nbsp;!</p></body>"
    t = text_of(html)
    assert t == "Fish & chips ☃ !"


def test_t06_meta_charset_gbk():
    body = "<html><head><meta charset=gbk></head><body><p>中文内容</p></body></html>"
    payload = body.encode("gbk")
    txt, enc = decode_payload(payload)
    assert enc == "gbk"
    assert "中文内容" in text_of(payload)


def test_t07_charset_lie_falls_back():
    body = '<html><head><meta charset="utf-8"></head><body><p>café résumé</p></body></html>'
    payload = body.encode("latin-1")  # bytes are NOT valid utf-8
    txt, enc = decode_payload(payload)
    assert enc == "latin-1"
    assert "café résumé" in text_of(payload)


def test_bom_wins_over_meta():
    body = '<meta charset="latin-1"><p>déjà</p>'
    payload = b"\xef\xbb\xbf" + body.encode("utf-8")
    _, enc = decode_payload(payload)
    assert enc == "utf-8-sig"


def test_t08_malformed_no_crash():
    html = b"<body><div><p>one<p>two</div></span><p>three</body></extra>"
    t = text_of(html)
    assert "one" in t and "two" in t and "three" in t


def test_t09_empty_error_as_row():
    for payload in (b"", b"   ", None):
        sections, code, _ = html_extract(payload)
        assert sections == [] and code == CODE_EMPTY_PAYLOAD


def test_t13_whitespace_normalization():
    html = "<body><p>  a\tb\u00a0c \r\n\r\n\r\n\r\n d  </p></body>".encode()
    t = text_of(html)
    assert t == "a b c\n\nd"


def test_t14_unicode_nfc():
    decomposed = unicodedata.normalize("NFD", "déjà vu")
    html = f"<body><p>{decomposed}</p></body>".encode("utf-8")
    t = text_of(html)
    assert t == "déjà vu"
    assert unicodedata.is_normalized("NFC", t)


def test_idempotent_normalization():
    s = "a  b\tc\n\n\n\nd e"
    once = normalize_text(s)
    assert normalize_text(once) == once


def test_sniff():
    assert sniff_payload(b"%PDF-1.4 etc") == "pdf"
    assert sniff_payload(b"<html>") == "html"
    assert sniff_payload(b"") == "empty"
    assert sniff_payload(None) == "empty"


def test_determinism_byte_identical():
    from ragflow_spark.sources.pages import render_page_html

    text = "alpha beta gamma delta " * 50
    for doc_id in range(20):
        p1 = render_page_html(doc_id, text, "en")
        p2 = render_page_html(doc_id, text, "en")
        assert p1 == p2
        s1, c1, _ = html_extract(p1)
        s2, c2, _ = html_extract(p2)
        assert s1 == s2 and c1 == c2


def test_pathological_nesting_is_error_as_row():
    """A 5000-deep nest (attack/broken page; real crawls stay <300)
    must become a coded failure row, never a task-killing exception;
    realistic depths extract normally."""
    from ragflow_spark.kernels.extract import extract_document

    ok = extract_document(
        ("<div>" * 300 + "<p>deep but fine</p>" + "</div>" * 300).encode()
    )
    assert ok.parse_status == "ok" and ok.extracted_text == "deep but fine"
    bad = extract_document(("<div>" * 5000 + "x" + "</div>" * 5000).encode())
    assert bad.parse_status == "failed" and bad.parse_code != 0


def test_normalize_exotic_whitespace_class_pinned():
    """Byte-pin for the FULL normalize whitespace class (round-2
    advice): the corpus goldens happen not to contain U+3000 / LS /
    PS / NEL / OGHAM / FS-US, so this unit golden is what freezes
    their collapse behavior — any future edit to _WS_RUN_RE that
    changes it fails HERE even though the corpus fixture stays green.
    Verified this round: the class extension left every corpus golden
    byte-identical (FIXTURES.md §5.6)."""
    from ragflow_spark.kernels.htmlx import html_extract, normalize_text

    s = (
        "a　b c d\x85e f\x1cg\x1dh\x1ei\x1fj\x0bk"
        " l m"
    )
    assert normalize_text(s) == "a b c d e f g h i j k l m"

    page = (
        "<html><body><p>w1　w2 w3 w4\x85w5\x0bw6</p>"
        "<p>x1\x1cx2\x1dx3\x1ex4\x1fx5 x6</p></body></html>"
    ).encode("utf-8")
    sections, code, _enc = html_extract(page)
    assert code == 0
    assert [t for _k, t in sections] == [
        "w1 w2 w3 w4 w5 w6",
        "x1 x2 x3 x4 x5 x6",
    ]


def test_oracled_routes_empty_text_branch():
    """Pins the empty-text branch of every value-oracled route
    (extract_text_hashes_full / chunk_spans_full, ADVICE r3):
    the synthesizer's _paragraphs('') fallback is
    ['empty document body'], so each template renders that single
    paragraph and the kernel must return exactly the title prefix (if
    the template has one) + the fallback line. This is the behavior
    the oracles' `WHEN length(trim(text)) = 0` branch reconstructs —
    never reached on the synthesized corpora (non-empty contract),
    exercised here directly."""
    from ragflow_spark.sources.pages import render_page_html

    expected = {
        0: "Document 0\nempty document body",
        1: "Main 1\nempty document body",
        3: "empty document body",
        4: "Fish & chips ☃ snowman\nempty document body",
        10: " ".join(["empty document body"] * 40),
        13: "déjà vu résumé\nempty document body",
        11: "Book 11\nChapter 1\nempty document body",
        14: "empty document body",
    }
    for t, want in expected.items():
        secs, code, _ct = html_extract(render_page_html(t, "", "en"))
        assert code == 0, t
        got = "\n".join(s for _k, s in secs)
        assert got == want, (t, got)
