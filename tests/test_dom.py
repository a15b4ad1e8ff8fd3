"""DOM semantics: parse structure, text(), serialization round-trip."""

from readabilityimproved_spark.dom import parse, parse_fragment


def test_implicit_structure():
    doc = parse("<p>hi</p>")
    assert doc.body() is not None
    assert doc.body().text() == "hi"
    assert doc.head() is not None


def test_full_document():
    doc = parse(
        "<html><head><title>T</title><style>x</style></head>"
        "<body><div id='a'>text</div></body></html>"
    )
    assert doc.head().get_elements_by_tag("title", include_self=False)
    divs = doc.body().get_elements_by_tag("div", include_self=False)
    assert divs[0].id() == "a"


def test_text_normalization():
    doc = parse("<div>hello   <span>world</span>\n !</div>")
    assert doc.body().text() == "hello world !"


def test_text_block_separation():
    doc = parse("<p>a</p><p>b</p>")
    assert doc.body().text() == "a b"


def test_roundtrip_stability():
    html = '<div class="x"><p>a, b</p><img src="u.jpg" width="300"></div>'
    doc = parse(html)
    once = doc.body().html()
    doc.body().set_html(once)
    assert doc.body().html() == once


def test_stray_end_p_splits():
    # the REGEX_REPLACE_BRS rewrite produces "</p><p>" mid-paragraph;
    # the parser must close the open <p> and start a new one
    nodes = parse_fragment("<p>one</p><p>two</p>")
    assert [n.tag for n in nodes] == ["p", "p"]
    nodes = parse_fragment("<p>one</p><p>two")
    assert len(nodes) == 2


def test_p_autoclose_on_block():
    nodes = parse_fragment("<p>one<div>two</div>")
    assert [n.tag for n in nodes] == ["p", "div"]


def test_void_elements():
    doc = parse("<p>a<br>b<img src='x'>c</p>")
    p = doc.body().get_elements_by_tag("p", include_self=False)[0]
    assert len(p.get_elements_by_tag("img", include_self=False)) == 1
    # br is a block boundary (space); img contributes nothing (jsoup-like)
    assert p.text() == "a bc"


def test_remove_and_retag():
    doc = parse("<div id='d'><span>x</span></div>")
    div = doc.body().get_elements_by_tag("div", include_self=False)[0]
    span = div.get_elements_by_tag("span", include_self=False)[0]
    span.remove()
    assert div.text() == ""
    div.tag = "p"
    assert doc.body().get_elements_by_tag("p", include_self=False)


def test_abs_url():
    doc = parse('<img src="a/b.jpg"><img src="http://x/y.jpg">', "http://host/2019/")
    imgs = doc.body().get_elements_by_tag("img", include_self=False)
    assert imgs[0].abs_url("src") == "http://host/2019/a/b.jpg"
    assert imgs[1].abs_url("src") == "http://x/y.jpg"
    # no base + relative -> "" (jsoup absUrl contract)
    doc2 = parse('<img src="a/b.jpg">')
    img2 = doc2.body().get_elements_by_tag("img", include_self=False)[0]
    assert img2.abs_url("src") == ""


def test_abs_url_malformed_is_empty():
    # urlparse rejects an unclosed IPv6 bracket; jsoup absUrl returns ""
    # on MalformedURLException
    doc = parse(
        '<a href="http://[bad/x">x</a><img src="http://[bad/i.jpg"><a href="y">y</a>',
        "http://host/2019/",
    )
    a_bad, a_ok = doc.body().get_elements_by_tag("a", include_self=False)
    img = doc.body().get_elements_by_tag("img", include_self=False)[0]
    assert a_bad.abs_url("href") == ""
    assert img.abs_url("src") == ""
    assert a_ok.abs_url("href") == "http://host/2019/y"


def test_nbsp_reescapes():
    doc = parse("<p>a&nbsp;b<br>&nbsp;</p>")
    assert "&nbsp;" in doc.body().html()


def test_attrs_lowercase_and_boolean():
    doc = parse('<img SRC="x.jpg" data-LAZY>')
    img = doc.body().get_elements_by_tag("img", include_self=False)[0]
    assert img.attr("src") == "x.jpg"
    assert img.has_attr("data-lazy") and img.attr("data-lazy") == ""


def test_sibling_elements():
    doc = parse("<div><p>a</p><p>b</p><p>c</p></div>")
    ps = doc.body().get_elements_by_tag("p", include_self=False)
    assert len(ps[0].sibling_elements()) == 2
