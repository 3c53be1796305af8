"""Extraction front-end unit tests (X1–X6): boilerplate stripping,
candidate selection, JATS mode, determinism, committed goldens for the
reference fixture corpus (the byte-identical contract's single-node
side; the distributed side is tests/test_pipeline.py)."""

import glob
import os

import pytest

from neurostore_text_extraction_spark.functions.html_extract import (
    extract_document,
    extract_html,
    looks_like_jats,
)
from test_fixture_f1 import BASE as REFERENCE_FIXTURES, needs_reference_fixtures

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")

BOILERPLATE_PAGE = b"""<html><head><title>T</title><script>var x=1;</script></head>
<body>
<nav><a href="/">Home</a> <a href="/b">Blog</a> <a href="/c">Contact</a></nav>
<header><h1>Site Name</h1><a href="/login">Login</a></header>
<div class="cookie-banner">We use cookies to improve your experience. <a href="#">Accept</a></div>
<div id="main" class="article-content">
<h2>Introduction</h2>
<p>This is the first paragraph of the main content, and it has plenty of words so that the classifier will keep it, including commas, for scoring.</p>
<p>The second paragraph also contains a reasonable number of words about the topic, because real content is wordy and has stopwords like the and of.</p>
</div>
<aside>Related: <a href="#">Other post</a></aside>
<footer>Copyright 2024 <a href="#">Terms</a> <a href="#">Privacy</a></footer>
</body></html>"""


def test_boilerplate_stripped_content_kept():
    text, spans = extract_html(BOILERPLATE_PAGE)
    assert text.startswith("## Introduction")
    assert "first paragraph of the main content" in text
    assert "cookies" not in text
    assert "Copyright" not in text
    assert "Home" not in text
    assert "Related" not in text
    # spans index the emitted text exactly
    for s, e, kind in spans:
        assert text[s:e]
        assert kind in ("heading", "para")
    assert spans[0][2] == "heading"


def test_unclosed_head_does_not_swallow_body():
    page = b"<html><head><title>t</title><body><p>Real content paragraph with enough words to be kept here today, honestly.</p></body></html>"
    text, _ = extract_html(page)
    assert "Real content paragraph" in text


def test_empty_and_garbage_inputs():
    assert extract_html(b"") == ("", [])
    text, spans = extract_html(b"\x00\xff\xfe\x80 not really html")
    assert isinstance(text, str)


def test_entity_decoding():
    page = (
        b"<html><body><p>Fish &amp; chips cost &pound;5 and that is a fine deal "
        b"for the hungry people of the town.</p></body></html>"
    )
    text, _ = extract_html(page)
    assert "Fish & chips" in text
    assert "\xa35" in text


def test_jats_detection_and_mode():
    jats = (
        b'<?xml version="1.0"?><article><front><journal-meta><journal-title>J'
        b"</journal-title></journal-meta><article-meta><title-group>"
        b"<article-title>The Study Title</article-title></title-group>"
        b"</article-meta></front><body><sec><title>Methods</title>"
        b"<p>We scanned participants with care (see <xref>Smith 2020</xref>) and "
        b"recorded many signals for the analysis in this work.</p></sec></body>"
        b"<back><ref-list><ref>Dropped Reference</ref></ref-list></back></article>"
    )
    assert looks_like_jats(jats)
    text, spans, kind = extract_document(jats)
    assert kind == "jats"
    assert "## Methods" in text
    assert "Smith 2020" not in text  # xref stripped like pubget
    assert "Dropped Reference" not in text  # back matter stripped
    # pubget extracts <body> only: front-matter title must NOT appear
    # (verified against processed/pubget/text.txt fixtures)
    assert "The Study Title" not in text


def test_determinism_pure_function():
    for _ in range(3):
        a = extract_html(BOILERPLATE_PAGE)
        assert a == extract_html(BOILERPLATE_PAGE)


@pytest.mark.parametrize(
    "golden_path",
    sorted(glob.glob(os.path.join(GOLDEN_DIR, "*.txt"))),
    ids=lambda p: os.path.basename(p),
)
@needs_reference_fixtures
def test_reference_fixture_goldens(golden_path):
    """Byte-identical contract vs committed goldens (our single-node
    snapshot over the reference's own fixture corpus,
    tests/data/sample_inputs/*/source/*)."""
    name = os.path.basename(golden_path)[: -len(".txt")]
    study, src, kind = name.rsplit("_", 2)
    pattern = f"{REFERENCE_FIXTURES}/{study}/source/{src}/*.*"
    files = [f for f in glob.glob(pattern) if f.endswith((".html", ".xml"))]
    assert files, f"fixture missing for {name}"
    text, spans, got_kind = extract_document(open(files[0], "rb").read())
    assert got_kind == kind
    golden = open(golden_path).read()
    assert text == golden  # byte-identical


def test_citation_classed_navbar_still_drops():
    """The page-level bibliography rule must not resurrect nav chrome
    whose class merely says 'citation': without >=3 citation-shaped
    blocks under reference-hinting ancestors, hinted link rows drop as
    before."""
    html = b"""<html><body>
    <div class="citation-tools"><a href="/export">Export citation</a>
    <a href="/share">Share</a></div>
    <article><p>Main content paragraph one with enough words to count
    as organic content for the extractor to keep it here.</p>
    <p>Second paragraph of real content, also long enough to score as
    a candidate block in the readability pass of the extractor.</p>
    <p>Third paragraph keeps the candidate subtree comfortably ahead
    of any other scoring container on this small page.</p></article>
    </body></html>"""
    text, _ = extract_html(html, mode="html")
    assert "Export citation" not in text
    assert "Main content paragraph" in text


def test_bibliography_section_is_kept():
    """A genuine bibliography (>=3 citation-shaped entries under a
    reference-hinting container) is kept whole — including link-label
    rows with no year/doi of their own (ACE parity)."""
    entries = "".join(
        f'<li>Author {c}. A study of topic {c}. Journal of Things, '
        f'20{10+i}. <div class="ReferenceLinks">'
        f"<a href='#'>View in Scopus</a><a href='#'>Google Scholar</a>"
        f"</div></li>"
        for i, c in enumerate("ABCD")
    )
    html = (
        "<html><body><article>"
        "<p>Main content paragraph one with enough words to count as "
        "organic content for the extractor to keep it here.</p>"
        "<p>Second paragraph of real content, also long enough to score "
        "as a candidate block in the readability pass here.</p>"
        "<p>Third paragraph keeps the candidate subtree comfortably "
        "ahead of any other scoring container on this page.</p>"
        "</article>"
        f'<section class="references"><h2>References</h2><ol>{entries}</ol></section>'
        "</body></html>"
    ).encode()
    text, _ = extract_html(html, mode="html")
    assert "Journal of Things" in text
    # the no-evidence link rows inside the bibliography are kept too
    assert "ScopusGoogle Scholar" in text  # adjacent anchors concatenate
    assert "Main content paragraph" in text


def test_preferences_class_is_not_a_reference_hint():
    """'user-preferences' contains the substring 'references' — the
    hint match must be word-boundary aware so a dated settings box
    never flips the bibliography rule (round-4 review finding)."""
    entries = "".join(
        f"<li>Saved search from 20{10+i}. Retention until 20{20+i}.</li>"
        for i in range(4)
    )
    html = (
        "<html><body><article>"
        "<p>Main content paragraph one with enough words to count as "
        "organic content for the extractor to keep it here.</p>"
        "<p>Second paragraph of real content, also long enough to score "
        "as a candidate block in the readability pass here.</p>"
        "<p>Third paragraph keeps the candidate subtree comfortably "
        "ahead of any other scoring container on this page.</p>"
        "</article>"
        f'<div class="user-preferences"><a href="/a">Export</a>{entries}</div>'
        "</body></html>"
    ).encode()
    text, _ = extract_html(html, mode="html")
    assert "Saved search" not in text
    assert "Main content paragraph" in text


def test_fast_feed_byte_identical_to_stdlib_feed():
    """r6 optimization guard: `_DomBuilder.feed_document` (single-shot
    fast loop) must produce byte-identical extraction output to the
    stdlib incremental `feed`+`close` path on every mode — including
    malformed markup, charrefs, cdata script content and incomplete
    constructs at EOF (the fast loop delegates all non-trivial tokens
    to the inherited stdlib parse_* methods; this pins the contract)."""
    from neurostore_text_extraction_spark.functions import html_extract as HE

    def via_stdlib(data, mode):
        orig = HE._DomBuilder.feed_document

        def boom(self, d):
            raise RuntimeError("force stdlib fallback")

        HE._DomBuilder.feed_document = boom
        try:
            return HE.extract_html(data, None, mode)
        finally:
            HE._DomBuilder.feed_document = orig

    frags = [
        b"", b"<", b"<>", b"</>", b"< p>hi</p>", b"<p", b"<p>unclosed",
        b"<p>a &amp; b &lt;t&gt; &#65; &#x41; &bogus; &am</p>",
        b"<script>if (a < b && c > d) { x = '<p>'; }</script><p>after</p>",
        b"<script>never terminated...",
        b"<style>p { color: red }</style><p>x</p>",
        b"<!-- comment <p>not a tag</p> --><p>real</p>",
        b"<!DOCTYPE html><?php echo '<p>'; ?><p>x</p>",
        b"<p class=\"a&amp;b\" id='z' data-x=unquoted>attrs</p>",
        b"<br/><br /><img src='x'/>text",
        b"<P>UPPER</P><DiV>mixed</dIv>",
        b"<p>a<3 and a<b</p>", b"<p>end with amp &",
        b"<p>tab\tin\ttag</p><a,b>weird</a,b>",
        b"<td>cell</td></table>stray",
        b"\xff\xfe<p>bad utf</p>",
        b"<p>text</p  ><p>weird end</p>",
        b"<![CDATA[ <p>cdata-ish</p> ]]><p>y</p>",
        b"<div><p>a &quot;q&quot;</p><p>b & c</p></div><script>var x=1</script>",
        (
            b"<html><body><article><p>Real paragraph with enough words to "
            b"be scored as organic content by the readability pass.</p>"
            b"</article><nav><a href='/'>Home</a></nav></body></html>"
        ),
    ]
    for frag in frags:
        for mode in ("auto", "html", "jats", "fullpage"):
            assert HE.extract_html(frag, None, mode) == via_stdlib(frag, mode), (
                frag,
                mode,
            )
