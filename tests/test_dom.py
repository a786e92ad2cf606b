from readability_scanner_spark.dom import parse_html


def test_basic_tree():
    root = parse_html("<html><body><div id='a'><p>hello <b>world</b></p></div></body></html>")
    div = root.find("div")
    assert div.get("id") == "a"
    assert div.inner_text() == "hello world"


def test_entities_decoded():
    root = parse_html("<p>a&nbsp;&amp;&lt;&gt;&quot;&#65;</p>")
    # raw text keeps the nbsp; normalized inner_text collapses it (as the
    # reference's \s+ collapse does, analyzer.py:56)
    assert root.find("p").raw_text() == 'a\xa0&<>"A'
    assert root.find("p").inner_text() == 'a &<>"A'


def test_void_elements_do_not_nest():
    root = parse_html("<p>a<br>b<img src='x'>c</p>")
    p = root.find("p")
    assert p.inner_text() == "abc"
    assert [c.tag for c in p.children if c.tag] == ["br", "img"]


def test_unclosed_p_recovery():
    root = parse_html("<div><p>one<p>two</div>")
    ps = list(root.iter_elements("p"))
    assert len(ps) == 2
    assert ps[0].inner_text() == "one"
    assert ps[1].inner_text() == "two"


def test_unmatched_end_tag_ignored():
    root = parse_html("<div>a</span>b</div>")
    assert root.find("div").inner_text() == "ab"


def test_text_spans_point_into_source():
    html = "<div><p>alpha</p><p>beta</p></div>"
    root = parse_html(html)
    spans = root.text_and_spans()[1]
    assert [html[s:e] for s, e in spans] == ["alpha", "beta"]


def test_spans_with_entities_cover_raw_input():
    html = "<p>a&amp;b</p>"
    root = parse_html(html)
    (span,) = root.text_and_spans()[1]
    assert html[span[0] : span[1]] == "a&amp;b"
    assert root.find("p").inner_text() == "a&b"


def test_link_density():
    root = parse_html("<div><a href='#'>12345</a>67890</div>")
    assert abs(root.find("div").link_density() - 0.5) < 1e-9


def test_serialize_roundtrip():
    root = parse_html('<div class="x"><p>a &amp; b</p></div>')
    out = root.serialize()
    assert parse_html(out).find("div").inner_text() == "a & b"


def test_comments_and_doctype_dropped():
    root = parse_html("<!DOCTYPE html><!-- hi --><p>x</p>")
    assert root.inner_text() == "x"


def test_malformed_never_raises():
    for bad in ["<<<", "<a <b>>", "<p", "&#xZZ;", "<script>un<closed", ""]:
        parse_html(bad)


def _tree_sig(n):
    if n.is_text:
        return ("#t", n.text, n.src_start, n.src_end)
    return (n.tag, tuple(sorted(n.attrs.items())), tuple(_tree_sig(c) for c in n.children))


def test_fast_parser_matches_stdlib_on_fixtures():
    """The fast regex tokenizer (default) must build byte-identical trees
    to the stdlib-html.parser builder on every fixture class."""
    from readability_scanner_spark.dom import parse_html_stdlib
    from readability_scanner_spark.sources.fixtures import fixture_classes, make_fixture

    for cls in fixture_classes():
        for seed in range(4):
            html = make_fixture(cls, seed)
            assert _tree_sig(parse_html(html)) == _tree_sig(parse_html_stdlib(html)), (cls, seed)


def test_fast_parser_rawtext_and_edge_cases():
    from readability_scanner_spark.dom import parse_html_stdlib

    cases = [
        "<script>if (a<b && c>d) { x('</div>'); }</script><p>k</p>",
        "<style>a>b{color:red}</style><p>k</p>",
        "<p>unclosed <b>bold",
        "<div data-x='a&quot;b'>t</div>",
        "<br/><hr/><input type='text'/>",
        "< notatag <p>real</p>",
        "",
    ]
    for html in cases:
        parse_html(html)  # never raises
    # rawtext content must not be parsed as tags
    root = parse_html("<script>var s = '<p>x</p>';</script><div>y</div>")
    assert root.find("p") is None
    assert root.find("div").inner_text() == "y"
    # parity on the well-formed subset
    for html in cases[:2]:
        assert _tree_sig(parse_html(html)) == _tree_sig(parse_html_stdlib(html))
