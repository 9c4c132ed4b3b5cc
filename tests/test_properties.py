"""Hypothesis property tests (SURVEY.md §7 milestone 5): the parser and
pipeline never crash, serialization is stable, charset decode is total."""

from html.parser import HTMLParser

from hypothesis import given, settings, strategies as st

from graby_spark.charset import convert_to_utf8
from graby_spark.dom import _TreeBuilder, parse_html, serialize
from graby_spark.extract import ExtractOptions, extract_one
from graby_spark.siteconfig import RuleSet
from graby_spark.textutils import excerpt, validate_date

RULESET = RuleSet({})
OPTS = ExtractOptions(xss_filter=False)


@given(st.text(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_parser_never_crashes(text):
    doc = parse_html(text)
    serialize(doc)


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_charset_decode_total(data):
    out = convert_to_utf8(data, "text/html")
    assert isinstance(out, str)
    out2 = convert_to_utf8(data, "text/html; charset=utf-8")
    assert isinstance(out2, str)


@given(st.binary(max_size=1500))
@settings(max_examples=100, deadline=None)
def test_extract_one_total(data):
    r = extract_one(data, "http://prop.example/x", RULESET, options=OPTS)
    assert isinstance(r.html, str)
    assert isinstance(r.summary, str)
    assert r.title is not None


@given(st.text(max_size=1000))
@settings(max_examples=200, deadline=None)
def test_excerpt_total_and_bounded(text):
    out = excerpt(text)
    # cut outputs stay near the 250-char limit + separator slack
    assert len(out) <= max(len(text), 0) + 20


@given(st.text(max_size=40))
@settings(max_examples=200, deadline=None)
def test_validate_date_total(text):
    result = validate_date(text)
    assert result is None or "T" in result


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=500))
@settings(max_examples=100, deadline=None)
def test_serialize_reparse_stable(text):
    """Serializing a parsed doc and reparsing reaches a fixpoint."""
    once = serialize(parse_html(text))
    twice = serialize(parse_html(once))
    assert serialize(parse_html(twice)) == twice


class _StdlibTokenizer(HTMLParser):
    """The differential reference for ``dom._scan``: html.parser's own
    tokenizer feeding the same tree builder's hooks."""

    def __init__(self, builder):
        super().__init__(convert_charrefs=True)
        self.handle_starttag = builder.handle_starttag
        self.handle_startendtag = builder.handle_startendtag
        self.handle_endtag = builder.handle_endtag
        self.handle_data = builder.handle_data
        self.handle_comment = builder.handle_comment
        self.unknown_decl = builder.unknown_decl


def _parse_stdlib(html):
    """``parse_html`` with html.parser as the tokenizer: feed, close,
    keep whatever tree was built if the tokenizer raises, then open the
    implicit body."""
    builder = _TreeBuilder()
    try:
        tokenizer = _StdlibTokenizer(builder)
        tokenizer.feed(html)
        tokenizer.close()
    except Exception:
        pass
    builder._ensure_body()
    return builder.document


@given(st.text(max_size=3000))
@settings(max_examples=300, deadline=None)
def test_fast_parser_matches_stdlib(text):
    """The fast tokenizer and html.parser build identical trees."""
    fast = serialize(parse_html(text))
    std = serialize(_parse_stdlib(text))
    assert fast == std


#: HTML fragments whose random concatenations make structured soup
_SOUP = [
    "<div>", "</div>", "<p class='a'>", "</p>", "text & more",
    "<img src=x>", "<br/>", "<script>var a = '<div>';</script>",
    "<!-- comment -->", "<a href=\"x?a=1&b=2\">", "</a>",
    "&amp; &lt; &#65; &unknown;", "<I>", "</I>", "<td>", "<ul><li>one<li>two",
    "<span style='x'>", "</span>", "<input value='\"quoted\"'>",
]
_STRUCTURED_PARTS = st.lists(st.sampled_from(_SOUP), max_size=30)


@given(_STRUCTURED_PARTS)
@settings(max_examples=300, deadline=None)
def test_fast_parser_matches_stdlib_structured(parts):
    html = "".join(parts)
    assert serialize(parse_html(html)) == serialize(_parse_stdlib(html))


def _recorded_pages():
    """(name, html) of every recorded real-world page under fixtures/content."""
    import os

    content = os.path.join(os.path.dirname(__file__), "..", "fixtures", "content")
    for name in sorted(os.listdir(content)):
        if name.endswith((".html", ".txt")) and name != "README":
            with open(os.path.join(content, name), "rb") as fh:
                yield name, fh.read().decode("utf-8", "replace")


def test_fast_parser_matches_stdlib_on_all_recorded_pages():
    """Engine equivalence over every recorded real-world page (not just
    the three goldens): identical serialized trees."""
    checked = 0
    for name, html in _recorded_pages():
        fast = serialize(parse_html(html))
        std = serialize(_parse_stdlib(html))
        assert fast == std, name
        checked += 1
    assert checked >= 15


def _excerpt_reference(text, length=250, separator=" &hellip;"):
    """The pre-fast-path excerpt pipeline, kept verbatim as the oracle for
    the prefix early-exit (textutils._excerpt_from_prefix)."""
    from graby_spark.textutils import _TAG_RE, _EDGE_SPACE_RE, _WS_RUN_RE

    text = _TAG_RE.sub(" ", text)
    text = _EDGE_SPACE_RE.sub("", text)
    text = _WS_RUN_RE.sub(" ", text).strip(" ")
    if len(text) > length:
        breakpoint_ = text.find(" ", length)
        if breakpoint_ < 0:
            return text
        return text[:breakpoint_].rstrip() + separator
    return text


@given(
    st.lists(
        st.one_of(
            st.text(alphabet=" \t\r\n\xa0 ab<>/c", max_size=30),
            st.sampled_from(["<p class='x'>", "</p>", "<br/>", "word "]),
        ),
        max_size=400,
    )
)
@settings(max_examples=300, deadline=None)
def test_excerpt_fast_path_matches_full(parts):
    # pad with a long tail so len(text) > 8192 takes the prefix fast path
    text = "".join(parts) + ("<i>t</i> tail word " * 600)
    assert excerpt(text) == _excerpt_reference(text)


@given(st.text(alphabet=" \t\r\n\x0b\x0c\xa0<>/abc", max_size=600))
@settings(max_examples=300, deadline=None)
def test_plain_text_matches_regex_twin(text):
    import re

    from graby_spark.extract import _plain_text

    tag = re.compile(r"<[^>]+>")
    ws = re.compile(r"[ \t\r\n]+")
    expected = ws.sub(" ", tag.sub(" ", text)).strip()
    assert _plain_text(text) == expected


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.sampled_from([1, 2, 3, 4]),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_png_roundtrip_property(h, w, c, interlace, rnd):
    """encode_png∘decode_png is the identity for any uint8 array, any
    shape/channel-count, interlaced or not (independent per-spec filter
    and unfilter implementations)."""
    import numpy as np

    from graby_spark.operators.multimodal import decode_png, encode_png

    arr = np.array(
        [rnd.randrange(256) for _ in range(h * w * c)], dtype=np.uint8
    ).reshape(h, w, c)
    back = decode_png(encode_png(arr, interlace=interlace))
    assert np.array_equal(back, arr)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(1, 6),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_gif_roundtrip_property(h, w, ncol, interlace, rnd):
    """encode_gif∘decode_gif is the identity for any palette image (the
    LZW pair including width growth and the KwKwK case)."""
    import numpy as np

    from graby_spark.operators.multimodal import decode_gif, encode_gif

    pal = np.array(
        sorted({tuple(rnd.randrange(256) for _ in range(3)) for _ in range(ncol)}),
        dtype=np.uint8,
    )
    idx = np.array(
        [rnd.randrange(len(pal)) for _ in range(h * w)], dtype=np.uint8
    ).reshape(h, w)
    rgb = pal[idx]
    back = decode_gif(encode_gif(rgb, interlace=interlace))
    assert np.array_equal(back, rgb)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(1, 200),
    st.integers(1, 3),
    st.randoms(use_true_random=False),
)
def test_wav_roundtrip_property(n, ch, rnd):
    """encode_wav∘decode_wav is the identity for any 16-bit PCM clip."""
    import numpy as np

    from graby_spark.operators.multimodal import decode_wav, encode_wav

    s = np.array(
        [rnd.randrange(-32768, 32768) for _ in range(n * ch)], dtype=np.int16
    ).reshape(n, ch)
    rate, back = decode_wav(encode_wav(s, 16000))
    assert rate == 16000 and np.array_equal(back, s.astype(np.int32))


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 4),
    st.integers(1, 4),
    st.randoms(use_true_random=False),
)
def test_jpeg_block_constant_exact_property(nbx, nby, rnd):
    """Baseline JPEG is bit-exact on 8x8 block-constant gray images under
    a unit quantizer — the DC-only invariant the oracle leans on — for
    ANY block values and grid shape."""
    import numpy as np

    from graby_spark.operators.jpeg import decode_jpeg, encode_jpeg

    blocks = np.array(
        [rnd.randrange(256) for _ in range(nbx * nby)], dtype=np.uint8
    ).reshape(nby, nbx)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    out = decode_jpeg(encode_jpeg(img, quant_luma=np.ones((8, 8))))
    assert np.array_equal(out[:, :, 0], img)


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=200), st.integers(0, 5))
def test_media_decoders_total_on_garbage(data, which):
    """Every decoder is TOTAL on malformed input: random bytes behind a
    valid magic either decode or raise ValueError/NotImplementedError —
    never any other exception, never a hang (the crawl-scale safety
    property: one corrupt payload must not kill an executor)."""
    from graby_spark.operators.jpeg import decode_jpeg
    from graby_spark.operators.multimodal import (
        decode_gif_frames,
        decode_png,
        decode_wav,
        mp4_metadata,
    )

    prefixes = [
        b"\x89PNG\r\n\x1a\n",
        b"GIF89a",
        b"\xff\xd8\xff\xe0",
        b"RIFF\x20\x00\x00\x00WAVE",
        b"\x00\x00\x00\x14ftypisom",
        b"",
    ]
    decoders = [
        decode_png,
        lambda d: decode_gif_frames(d, max_frames=4),
        decode_jpeg,
        decode_wav,
        mp4_metadata,
        decode_png,
    ]
    payload = prefixes[which] + data
    try:
        decoders[which](payload)
    except (ValueError, NotImplementedError):
        pass


@given(st.binary(max_size=3000))
@settings(max_examples=200, deadline=None)
def test_warc_family_parsers_total(data):
    """Arbitrary bytes through the gzip-member walk and all three WARC
    record parsers (response/conversion/metadata) terminate without
    raising — corrupt archives degrade to fewer records, never to a
    failed Spark task."""
    from graby_spark.sources.warc import (
        _iter_members,
        _parse_records,
        _parse_wet,
        _parse_wat,
    )

    for member in _iter_members(data):
        list(_parse_records(member))
        list(_parse_wet(member))
        list(_parse_wat(member))


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_avi_parser_total(data):
    """parse_avi on arbitrary bytes either returns a dict or raises
    ValueError — never hangs, never raises anything else."""
    from graby_spark.operators.avi import parse_avi

    try:
        meta = parse_avi(data)
    except ValueError:
        return
    assert isinstance(meta["frames"], list)


@given(st.binary(min_size=0, max_size=1000))
@settings(max_examples=100, deadline=None)
def test_avi_parser_total_behind_valid_magic(tail):
    """Garbage BEHIND a valid RIFF/AVI magic still terminates: either a
    parsed dict (possibly zero frames) or ValueError."""
    from graby_spark.operators.avi import parse_avi

    data = b"RIFF" + (len(tail) + 4).to_bytes(4, "little") + b"AVI " + tail
    try:
        meta = parse_avi(data)
        assert isinstance(meta["frames"], list)
    except ValueError:
        pass


@given(st.binary(max_size=800))
@settings(max_examples=150, deadline=None)
def test_webp_decoder_total(tail):
    """Arbitrary bytes behind a valid RIFF/WEBP container frame either
    decode, raise ValueError, or raise NotImplementedError (documented
    subset boundaries) — never hang or fail another way."""
    from graby_spark.operators.webp import decode_webp

    riff = b"WEBPVP8L" + len(tail).to_bytes(4, "little") + tail
    data = b"RIFF" + len(riff).to_bytes(4, "little") + riff
    try:
        out = decode_webp(data)
        assert out.ndim == 3 and out.shape[2] == 4
    except (ValueError, NotImplementedError):
        pass


@given(st.binary(max_size=600))
@settings(max_examples=150, deadline=None)
def test_exif_parser_total(tail):
    """parse_exif on arbitrary bytes behind a JPEG SOI (including a
    fake APP1/Exif header) always returns the dict — never raises."""
    from graby_spark.operators.exif import parse_exif

    for data in (
        tail,
        b"\xff\xd8" + tail,
        b"\xff\xd8\xff\xe1" + len(tail).to_bytes(2, "big") + b"Exif\x00\x00" + tail,
    ):
        out = parse_exif(data)
        assert set(out) >= {"orientation", "gps_lat", "gps_lon"}


@given(st.binary(max_size=800))
@settings(max_examples=150, deadline=None)
def test_ico_tiff_bmp_parsers_total(tail):
    """Arbitrary bytes behind the ICO/TIFF/BMP magics decode, raise
    ValueError, or raise NotImplementedError — never anything else."""
    from graby_spark.operators.multimodal import decode_bmp, decode_ico, decode_tiff

    for fn, prefix in (
        (decode_ico, b"\x00\x00\x01\x00"),
        (decode_tiff, b"II*\x00"),
        (decode_tiff, b"MM\x00*"),
        (decode_bmp, b"BM"),
    ):
        try:
            fn(prefix + tail)
        except (ValueError, NotImplementedError):
            pass


@given(st.binary(max_size=600))
@settings(max_examples=150, deadline=None)
def test_flac_parser_total(tail):
    """Arbitrary bytes behind the fLaC magic (and a valid STREAMINFO
    header shape) decode or raise ValueError — never hang or fail
    another way (CRC checks catch garbage frames)."""
    from graby_spark.operators.flac import decode_flac

    for data in (b"fLaC" + tail, tail):
        try:
            decode_flac(data)
        except ValueError:
            pass


@given(st.text(max_size=3000))
@settings(max_examples=200, deadline=None)
def test_doc_tables_total(text):
    """Table extraction is total over arbitrary text: a crash inside the
    mapInPandas batch would kill the whole task at corpus scale."""
    from graby_spark.operators.tables import doc_tables

    for rows in doc_tables(text):
        for is_header, cells in rows:
            assert isinstance(is_header, bool)
            assert all(isinstance(c, str) for c in cells)


_TABLE_BITS = st.lists(
    st.sampled_from(
        [
            "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
            "<th>", "</th>", "<thead>", "</thead>", "<tbody>", "</tbody>",
            '<td colspan="2">', '<td rowspan="3">', '<td colspan="999999">',
            '<td rowspan="-1">', "text", "<p>x</p>", "<div>",
        ]
    ),
    max_size=60,
)


@given(_TABLE_BITS)
@settings(max_examples=200, deadline=None)
def test_doc_tables_structured_soup_total(bits):
    """Adversarial table-tag soup (orphan cells, giant/negative spans,
    unclosed sections) never crashes and never produces a ragged row
    wider than the span clamp allows."""
    from graby_spark.operators.tables import doc_tables

    for rows in doc_tables("".join(bits)):
        for _, cells in rows:
            assert len(cells) <= 4000  # spans clamp at 1000 per cell


#: predicate shapes of the site-config corpus and the extractor's own queries
XPATH_PREDICATES = [
    "@class='a'",
    "@id='x' or @class='a'",
    "contains(@class, 'a')",
    "contains(concat(' ',normalize-space(@class),' '),' a ')",
    "contains(concat(' ',normalize-space(@class), ' '),' a ')"
    " or contains(concat(' ',normalize-space(@id),' '), ' a ')",
    "contains(concat(' ',normalize-space(@class),' '),' a ') and (@href or not(@style))",
    "@href",
    "@style or @src",
    "contains(@style,'x') or contains(@style,'y')",
    "starts-with(@href, 'x')",
    "not(./*) and normalize-space(.)=''",
    "contains(text(),'text')",
    "normalize-space(.) != ''",
    "p",
    ".//a",
    "count(*) > 1",
]
XPATH_TAGS = ["*", "div", "p", "a", "li"]


def _document_positions(doc):
    order = [doc] + doc.iter_list()
    return {id(node): i for i, node in enumerate(order)}, order


def _kth_child(doc, tag, k, parent_tag="*"):
    """Reference for //parent_tag/tag[k] (k = -1: [last()]): each matching
    parent's k-th matching element child, in document order."""
    pos, order = _document_positions(doc)
    out = []
    for parent in order:
        if parent_tag != "*" and getattr(parent, "tag", None) != parent_tag:
            continue
        kids = [c for c in parent.children if getattr(c, "tag", None) == tag]
        if kids and (k == -1 or len(kids) >= k):
            out.append(kids[k if k == -1 else k - 1])
    return sorted(out, key=lambda node: pos[id(node)])


def _check_xpath_rewrites(doc, tags=XPATH_TAGS):
    from graby_spark.xpath import query

    pos, _order = _document_positions(doc)
    results = {}
    for tag in tags:
        for pred in XPATH_PREDICATES:
            rewritten = query(f"//{tag}[{pred}]", doc)
            per_context = query(f"//{tag}[({pred}) and position() > 0]", doc)
            assert [id(n) for n in rewritten] == [id(n) for n in per_context], (tag, pred)
            results[tag, pred] = rewritten
        for pred in XPATH_PREDICATES[:6]:  # a descendant step from nested contexts
            nested = query(f"//div//{tag}[{pred}]", doc)
            per_context = query(f"//div//{tag}[({pred}) and position() > 0]", doc)
            assert [id(n) for n in nested] == [id(n) for n in per_context], (tag, pred)
    assert query("//div/p[1]", doc) == _kth_child(doc, "p", 1, "div")
    assert query("//p[last()]", doc) == _kth_child(doc, "p", -1)
    assert query("//li[2]", doc) == _kth_child(doc, "li", 2)
    for (t1, p1), (t2, p2) in [
        (("div", XPATH_PREDICATES[0]), ("a", XPATH_PREDICATES[6])),
        (("a", XPATH_PREDICATES[3]), ("div", XPATH_PREDICATES[13])),
    ]:
        union = query(f"//{t1}[{p1}] | //{t2}[{p2}]", doc)
        expected = {id(n): n for n in results[t1, p1] + results[t2, p2]}
        assert union == sorted(expected.values(), key=lambda node: pos[id(node)])


@given(_STRUCTURED_PARTS)
@settings(max_examples=200, deadline=None)
def test_xpath_descendant_rewrite_matches_per_context_steps(parts):
    """//T[p] runs as one descendant walk; it selects what the per-context
    child step //T[(p) and position() > 0] selects, in the same order, and
    positional steps and unions come back in document order."""
    _check_xpath_rewrites(parse_html("".join(parts)))


def test_xpath_descendant_rewrite_on_recorded_pages():
    for _name, html in _recorded_pages():
        _check_xpath_rewrites(parse_html(html), tags=("div", "a"))


# ---------------------------------------------------------------------------
# Readability: one bottom-up measurement walk against per-element re-walks
# ---------------------------------------------------------------------------

#: readability-relevant fragments added to the structured soup: class and
#: id weights, dialogs, video and non-video embeds, controls, commas
_READABILITY_SOUP = _SOUP + [
    "<div class='comment'>", "<div id='main-content'>", "<div role='dialog'>",
    "<div class='sidebar'>", "<table>", "</table>", "<tr>", "<ul>", "</ul>",
    "<li>", "<h1>", "</h1>", "<h2>", "</h2>", "<h3>", "</h3>", "<pre>", "</pre>",
    "<iframe src='https://www.youtube.com/embed/x'></iframe>",
    "<iframe src='http://maps.example.com/m'></iframe>",
    "<embed src='http://vimeo.com/v'>", "<embed src='http://x.example/f.swf'>",
    "<video src='v.mp4'></video>", "<object data='x'></object>",
    "<button>go</button>", "<form>", "</form>", "<br><br>", "  \n ",
    "plenty of words, commas, more, and more, words here, ", "，",
    "<style>p { x: 1 }</style>", "<a href='y'> spaced link </a>",
]
_READABILITY_PARTS = st.lists(st.sampled_from(_READABILITY_SOUP), max_size=40)


def _ref_inner_text(el, strip=True):
    """Per-element reference: the visible text of ``el`` in document order."""
    from graby_spark.dom import Element, TextNode

    parts = []
    stack = el.children[::-1]
    while stack:
        node = stack.pop()
        if isinstance(node, TextNode):
            parts.append(node.data)
        elif isinstance(node, Element) and node.tag not in ("script", "style"):
            stack.extend(node.children[::-1])
    text = "".join(parts)
    return text.strip() if strip else text


def _ref_tag_counts(el):
    counts = {}
    for e in el.iter():
        counts[e.tag] = counts.get(e.tag, 0) + 1
    return counts


def _ref_has_video_embed(el):
    from graby_spark.readability import _VIDEO_RE

    for tag in ("iframe", "embed", "object", "video"):
        for e in el.iter(tag):
            if tag == "video" or _VIDEO_RE.search(e.get("src") or ""):
                return True
    return False


def _ref_link_density(el):
    text_len = len(_ref_inner_text(el))
    if text_len == 0:
        return 0.0
    return sum(len(_ref_inner_text(a)) for a in el.iter("a")) / text_len


def _ref_measure(el):
    """What ``readability._measured`` must give ``el``, recomputed from its
    own subtree."""
    from graby_spark.readability import _FIELD, _VIDEO, _VIDEO_RE

    raw = _ref_inner_text(el, strip=False)
    counts = sum(n << _FIELD[t] for t, n in _ref_tag_counts(el).items() if t in _FIELD)
    for e in el.iter():
        if e.tag in ("iframe", "embed", "object") and _VIDEO_RE.search(e.get("src") or ""):
            counts += 1 << _VIDEO
    link = sum(len(_ref_inner_text(a)) for a in el.iter("a"))
    first, last = len(raw) - len(raw.lstrip()), len(raw.rstrip())
    return (len(raw), first, last, raw.count(",") + raw.count("，"), link, counts)


def _ref_clean_conditionally(self, el, tag):
    """The per-target cleanConditionally that ``_measured`` replaced: every
    target re-walks its subtree for its text, anchors, tags and embeds."""
    from graby_spark.readability import _VIDEO_RE

    for target in reversed(el.iter_list(tag)):
        if target.parent is None:
            continue
        tc = _ref_tag_counts(target)
        if any(t in tc for t in ("iframe", "embed", "object", "video")):
            if _ref_has_video_embed(target):
                continue
        weight = self._class_weight(target) + self._scores.get(id(target), 0.0)
        text = _ref_inner_text(target)
        if (target.get("role") or "").lower() == "dialog" and not any(
            h in tc for h in ("h1", "h2", "h3")
        ):
            target.detach()
            continue
        if weight < 0:
            target.detach()
            continue
        if text.count(",") + text.count("，") < 10:
            p_count = tc.get("p", 0)
            img_count = tc.get("img", 0)
            li_count = tc.get("li", 0) - 100
            input_count = tc.get("input", 0) + tc.get("button", 0)
            embed_count = sum(
                1 for e in target.iter("embed") if not _VIDEO_RE.search(e.get("src") or "")
            )
            length = len(text)
            density = _ref_link_density(target) if length else 0.0
            if (
                (img_count > p_count and img_count > 4)
                or (li_count > p_count and tag not in ("ul", "ol"))
                or (input_count > p_count // 3)
                or (length == 0 and p_count == 0 and (img_count == 0 or img_count > 2))
                or (weight < 25 and density > 0.2)
                or (weight >= 25 and density > 0.5)
                or ((embed_count == 1 and length < 75) or embed_count > 1)
            ):
                target.detach()


def _ref_clean_headers(self, el):
    for tag in ("h1", "h2"):
        for header in el.iter_list(tag):
            if header.parent is None:
                continue
            if self._class_weight(header) < 0 or _ref_link_density(header) > 0.33:
                header.detach()


def _check_measures(root):
    from graby_spark.readability import _measured

    measured = list(_measured(root))
    assert [el for el, _ in measured] == list(reversed([root] + root.iter_list()))
    for el, measure in measured:
        assert measure == _ref_measure(el), serialize(el)[:200]
        _, first, last = measure[:3]
        assert max(last - first, 0) == len(_ref_inner_text(el))


def _prepared(html, scores, reference):
    """``prep_article`` over the body's content moved into a fresh article
    div, with ``scores`` planted by element position; ``reference`` runs
    the per-target cleanConditionally and header cleaning instead of the
    measured ones."""
    import types

    from graby_spark.dom import Element
    from graby_spark.readability import Readability

    rd = Readability(html, "http://prop.example/x")
    article = Element("div")
    for child in list(rd.dom.body().children):
        article.append(child)
    for i, el in enumerate(article.iter_list()):
        if i in scores:
            rd._scores[id(el)] = scores[i]
    if reference:
        rd._clean_conditionally = types.MethodType(_ref_clean_conditionally, rd)
        rd._clean_headers = types.MethodType(_ref_clean_headers, rd)
    rd.prep_article(article)
    return serialize(article)


def _check_prep_article(html, scores):
    assert _prepared(html, scores, False) == _prepared(html, scores, True)


@given(
    _READABILITY_PARTS,
    st.dictionaries(st.integers(0, 40), st.sampled_from([-30.0, -5.0, 0.0, 10.0, 30.0])),
)
@settings(max_examples=300, deadline=None)
def test_measured_matches_per_element_rewalks(parts, scores):
    """Every element's measure equals its own subtree's recomputation, and
    prep_article leaves the tree the per-target cleanConditionally leaves."""
    html = "".join(parts)
    _check_measures(parse_html(html))
    _check_prep_article(html, scores)


def test_measured_matches_per_element_rewalks_on_recorded_pages():
    from tests.golden import load_golden

    pages = [html for _name, html in _recorded_pages()]
    for name in ("lemonde", "blogger", "lifehacker"):
        case = load_golden(name)
        pages.append(convert_to_utf8(case.raw_content, case.header))
    for html in pages:
        _check_measures(parse_html(html))
        _check_prep_article(html, {i: (-30.0, 10.0, 30.0)[i % 3] for i in range(0, 400, 7)})


_BUILDER_PARTS = st.lists(
    st.sampled_from(
        _READABILITY_SOUP
        + [
            "<html>", "</html>", "<head>", "</head>", "<body>", "</body>", "<title>",
            "</title>", "<meta x=1>", "<dl>", "<dt>", "<dd>", "</dl>", "<select>",
            "<option>", "<optgroup>", "</select>", "</td>", "</tr>", "</li>", "<p/>",
            "<div/>", "</b>", "<section>", "</section>", "<blockquote>", "<thead>",
            "<tbody>", "<tfoot>", "<th>", "<object>", "</object>", "<ol>", "</ol>",
        ]
    ),
    max_size=50,
)


@given(_BUILDER_PARTS, st.sampled_from(["libxml", "html5"]), st.booleans())
@settings(max_examples=300, deadline=None)
def test_tree_builder_open_counts_match_stack(parts, profile, fast):
    """After every builder event, the per-tag open counts equal the tag
    histogram of the open-element stack, and the kept stack positions
    are those of the open elements they track."""
    from collections import Counter

    from graby_spark.dom import _POSITION_KEY, _scan

    class Checked(_TreeBuilder):
        def _checked(self, hook, *args):
            hook(self, *args)
            assert {t: n for t, n in self.open.items() if n} == Counter(
                el.tag for el in self.stack
            )
            want = {key: [] for key in self.positions}
            for i, el in enumerate(self.stack):
                if el.tag in _POSITION_KEY:
                    want[_POSITION_KEY[el.tag]].append(i)
            assert self.positions == want

        def handle_starttag(self, *args):
            self._checked(_TreeBuilder.handle_starttag, *args)

        def handle_endtag(self, *args):
            self._checked(_TreeBuilder.handle_endtag, *args)

        def handle_data(self, *args):
            self._checked(_TreeBuilder.handle_data, *args)

        def handle_comment(self, *args):
            self._checked(_TreeBuilder.handle_comment, *args)

    builder = Checked(profile=profile)
    html = "".join(parts)
    if fast:
        _scan(html, builder)
    else:
        tokenizer = _StdlibTokenizer(builder)
        tokenizer.feed(html)
        tokenizer.close()
    builder._checked(_TreeBuilder._ensure_body)
