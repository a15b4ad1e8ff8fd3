"""Kernel quirk vectors (FIXTURES.md §3) — hand-computed expectations."""

import math
import sys

from readabilityimproved_spark.dom import Element, parse
from readabilityimproved_spark.kernel.readability import (
    CONTENT_SCORE,
    ReadabilityKernel,
    extract_document,
    get_content_score,
    get_img_score,
    get_link_density,
    scale_content_score,
)

BASE = "http://news.site/2019-06/18/article.html"

# 25 normalized chars incl. one comma -> contentScore = 1 + 2 + 0 = 3
P25 = "aaaa aaaa, aaaa aaaa aaaa"
assert len(P25) == 25
P24 = P25[:-1]


def run_kernel(html, base_uri="", variant="img"):
    k = ReadabilityKernel(html, base_uri=base_uri, variant=variant)
    k.prep_document()
    article = k.grab_article(preserve_unlikely_candidates=False)
    return k, article


def test_length_gate_25_chars():
    # 24-char paragraph: no candidates -> body fallback -> conditional
    # clean drops the wrapper (contentLength < 25, img == 0)
    r24 = extract_document(f"<div><p>{P24}</p></div>")
    assert r24.status == "ok" and r24.spans == []
    r25 = extract_document(f"<div><p>{P25}</p></div>")
    assert [s[1] for s in r25.spans] == [P25]


def test_paragraph_scoring_and_grandparent_half():
    k, _ = run_kernel(f"<div><p>{P25}</p></div>")
    # div: +5 tag prior, +3 paragraph score (1 + 2 segments + 0) = 8
    # body (grandparent): 0 prior + 3/2 = 1 (Java int division)
    assert k.top_content_score == 8
    assert get_content_score(k.doc.body()) == 1


def test_comma_score_fullwidth_and_trailing():
    # same length, extra full-width comma -> one more segment -> +1
    text_a = "aaaa aaaa, aaaa aaaa aaaa aaaa"
    text_b = text_a[:15] + "，" + text_a[16:]  # one space -> full-width comma
    assert len(text_a) == len(text_b)
    ka, _ = run_kernel(f"<div><p>{text_a}</p></div>")
    kb, _ = run_kernel(f"<div><p>{text_b}</p></div>")
    assert kb.top_content_score == ka.top_content_score + 1
    # trailing comma adds nothing (Java split drops trailing empties)
    text_c = "aaaa aaaa. aaaa aaaa aaaa aa,"
    kc, _ = run_kernel(f"<div><p>{text_c}</p></div>")
    assert kc.top_content_score == ka.top_content_score - 1  # one fewer segment


def test_scale_truncation():
    el = Element("div")
    el.set_attr(CONTENT_SCORE, "7")
    scale_content_score(el, 1 - 0.3)  # 7 * 0.7 = 4.9 -> 4
    assert get_content_score(el) == 4


def test_nan_link_density():
    doc = parse("<div id='e'></div>")
    div = doc.body().get_elements_by_tag("div", include_self=False)[0]
    assert math.isnan(get_link_density(div))
    # and with links but no text -> +inf
    doc2 = parse("<div><a href='x'></a></div>")
    div2 = doc2.body().get_elements_by_tag("div", include_self=False)[0]
    assert math.isnan(get_link_density(div2))  # link text is also empty -> 0/0


def test_li_minus_100_quirk():
    # div containing a 3-item list: li count enters the rule as 3-100=-97,
    # so the li>p rule never fires (reference quirk, Readability.java:617)
    html = (
        f"<div><div><ul><li>alpha beta gamma delta epsilon</li>"
        f"<li>zeta eta theta iota kappa</li><li>lambda mu nu xi</li></ul>"
        f"</div><p>{P25}</p></div>"
    )
    k, article = run_kernel(html)
    assert len(article.get_elements_by_tag("li", include_self=False)) == 3


def test_inverted_img_style_scoring():
    # centered -> -30, display:none -> +10 (ReadabilityForImg.java:645-655)
    def img_score_for(style):
        doc = parse(f'<img src="http://x/a.jpg" style="{style}">', BASE)
        img = doc.body().get_elements_by_tag("img", include_self=False)[0]
        k = ReadabilityKernel("<p></p>")
        img.set_attr("readabilityimgscore", "0")
        k._init_img_tag_score(img)
        return get_img_score(img)

    assert img_score_for("text-align:center;") == -30
    assert img_score_for("display:none;") == 10


def test_width_height_buckets():
    k = ReadabilityKernel("<p></p>")

    def wh(attrs):
        doc = parse(f"<img {attrs} src='http://x/a.jpg'>")
        img = doc.body().get_elements_by_tag("img", include_self=False)[0]
        return k._estimate_width_and_height(img)

    assert wh('width="90" height="90"') == -500
    assert wh('width="140" height="140"') == -50 - (300 - 280)  # -70
    assert wh('width="350" height="300"') == 40  # +50 capped at 40
    assert wh('width="50%"') == -100
    assert wh('width="500"') == 15  # width-only > 400
    assert wh('width="120px" height="300"') == -10  # w < 150 branch, px stripped


def test_a_href_ladder():
    k = ReadabilityKernel("<p></p>")

    def a_score(href, src):
        doc = parse(f'<a href="{href}"><img src="{src}"></a>', BASE)
        a = doc.body().get_elements_by_tag("a", include_self=False)[0]
        k._initialize_img_score(a)
        return get_img_score(a)

    assert a_score("http://x/p.jpg", "http://x/p.jpg") == 30
    assert a_score("http://x/p.jpg", "http://x/p.jpg?v=2") == 15  # contains
    assert a_score("http://x/q.gif", "http://y/other.png") == 10  # ends .gif
    assert a_score("http://x/q.jpg?z=1", "http://y/other.png") == 5
    assert a_score("http://x/page.html", "http://y/other.png") == -150


def test_duplicate_src_dropped():
    k = ReadabilityKernel("<p></p>")
    k.pictext = {"http://x/a.jpg": 2, "http://x/b.jpg": 1, "": 1}
    assert k.accepted_images() == ["http://x/b.jpg"]


def test_top_score_below_30_no_images():
    html = "<p>tiny</p><img src='http://x/logo-logo.png' width='80' height='80'>"
    result = extract_document(html, base_uri=BASE)
    assert result.images == []


def test_boilerplate_only_page():
    html = '<div class="sidebar"><p>junk junk junk junk junk junk</p></div>'
    # img variant: never retries -> empty spans
    r_img = extract_document(html, variant="img")
    assert r_img.spans == []
    # text variant: retry with preserveUnlikelyCandidates=True recovers it
    r_text = extract_document(html, variant="text")
    assert any("junk" in (s[1] or "") for s in r_text.spans)


def test_end_to_end_interleaved_images():
    paragraphs = "".join(
        f"<p>word{i} lorem ipsum dolor sit amet, consectetur adipiscing elit, "
        f"sed do eiusmod tempor incididunt ut labore.</p>"
        for i in range(4)
    )
    html = (
        '<html><body><div class="article content">'
        + paragraphs[: len(paragraphs) // 2]
        + '<img src="http://news.site/2019-06/18/photo1.jpg" width="600" height="450">'
        + paragraphs[len(paragraphs) // 2 :]
        + "</div>"
        + '<div class="sidebar"><a href="http://spam">spam spam</a></div>'
        + '<img src="http://news.site/logo.png" width="80" height="80">'
        + "</body></html>"
    )
    result = extract_document(html, base_uri=BASE)
    assert result.status == "ok"
    assert result.images == ["http://news.site/2019-06/18/photo1.jpg"]
    kinds = [s[0] for s in result.spans]
    assert "image" in kinds and "text" in kinds
    # the image sits strictly between text spans (interleaving preserved)
    img_pos = kinds.index("image")
    assert 0 < img_pos < len(kinds) - 1
    # offsets are dense 0..n-1
    assert [s[3] for s in result.spans] == list(range(len(result.spans)))


def test_duplicate_image_end_to_end():
    paragraphs = "".join(
        f"<p>word{i} lorem ipsum dolor sit amet, consectetur adipiscing elit, "
        f"sed do eiusmod tempor incididunt ut labore.</p>"
        for i in range(4)
    )
    dup = '<img src="http://news.site/2019-06/18/photo2.jpg" width="600" height="450">'
    html = (
        f'<div class="article content">{paragraphs}{dup}{dup}</div>'
    )
    result = extract_document(html, base_uri=BASE)
    assert "http://news.site/2019-06/18/photo2.jpg" not in result.images


def test_malformed_img_url_keeps_article():
    # one unparsable src (unclosed IPv6 bracket) resolves to '' like
    # jsoup absUrl, instead of failing the whole document
    paragraphs = "".join(
        f"<p>word{i} lorem ipsum dolor sit amet, consectetur adipiscing elit, "
        f"sed do eiusmod tempor incididunt ut labore.</p>"
        for i in range(4)
    )
    html = f'<div class="article content">{paragraphs}<img src="http://[bad/i.jpg"></div>'
    result = extract_document(html, base_uri=BASE)
    assert result.status == "ok"
    assert [s[0] for s in result.spans] == ["text"] * 4
    assert result.images == []


def test_deep_nesting_reports_recursion():
    # at CPython's default limit (a Python worker's); other tests may
    # leave the process limit raised
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        for depth in (600, 5_000):
            html = "<div>" * depth + "text" + "</div>" * depth
            result = extract_document(html, base_uri=BASE)
            assert (result.status, result.spans) == ("recursion", [])
    finally:
        sys.setrecursionlimit(limit)
