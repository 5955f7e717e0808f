"""Property-based kernel robustness (hypothesis): the reference's
failure-isolation contract — arbitrary bytes must NEVER raise, spans
must always index correctly into the text, and extraction must be
deterministic (SURVEY.md §2.9 ST3/ST6)."""

from __future__ import annotations

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from ai_pdf_extraction_spark.kernels import extract_document
from ai_pdf_extraction_spark.kernels.html_extract import extract_html
from ai_pdf_extraction_spark.kernels.pdf_extract import extract_pdf


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_arbitrary_bytes_never_raise(data):
    res = extract_document(data)
    assert isinstance(res.parse_ok, bool)
    assert isinstance(res.text, str)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_pdf_prefixed_bytes_never_raise(data):
    res = extract_document(b"%PDF-1.4\n" + data)
    assert res.content_type == "pdf"
    assert isinstance(res.text, str)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=2048))
def test_html_spans_always_index_into_text(markup):
    res = extract_html(markup.encode("utf-8"))
    for span in res.spans:
        assert 0 <= span.start <= span.end <= len(res.text)
        segment = res.text[span.start : span.end]
        assert segment == segment.strip()
    # spans tile the text in order, separated by the block joiner
    for prev, cur in zip(res.spans, res.spans[1:]):
        assert cur.start == prev.end + 2


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_extraction_is_deterministic(data):
    a, b = extract_document(data), extract_document(data)
    assert a.text == b.text
    assert [s.as_tuple() for s in a.spans] == [s.as_tuple() for s in b.spans]
    assert a.warnings == b.warnings
    assert a.parse_ok == b.parse_ok


_TAGS = (
    ("p", ""),
    ("div", ""),
    ("div", ' class="advert"'),
    ("div", ' id="sidebar"'),
    ("ul", ""),
    ("li", ""),
    ("h2", ""),
    ("span", ""),
    ("a", ' href="/x"'),
    ("a", ' class="share" href="#"'),
    ("b", ""),
    # table machinery — the recursive generator will also produce
    # PATHOLOGICAL nestings (td outside table, table inside td, tr
    # inside tr): structured capture must stay equivalent and sane
    ("table", ""),
    ("table", ' class="advert"'),
    ("tr", ""),
    ("td", ""),
    ("td", ' colspan="2"'),
    ("th", ' colspan="3"'),
    ("td", ' rowspan="2"'),
)

_LEAF = st.one_of(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon words tokens".split()),
        min_size=1,
        max_size=10,
    ).map(lambda ws: " ".join(ws) + "."),
    st.just('<img src="/x.png">'),
    st.just('<img class="advert" src="/ad.png"/>'),
    st.just("<br/>"),
    st.just("<!-- a comment <p>hidden</p> -->"),
    st.just("A &amp; B entities &lt;kept&gt;."),
    # unquoted attribute values, incl. ones ending in '/' (must NOT be
    # taken as self-closes — stdlib parses them as plain start tags)
    st.just("<a href=http://x.com/a/>unquoted link text</a>"),
    st.just("<img src=/banner.png/>"),
)

_NODE = st.recursive(
    _LEAF,
    lambda inner: st.tuples(st.sampled_from(_TAGS), st.lists(inner, max_size=4)).map(
        lambda t: f"<{t[0][0]}{t[0][1]}>{''.join(t[1])}</{t[0][0]}>"
    ),
    max_leaves=24,
)

_DOC = st.lists(_NODE, max_size=6).map(
    lambda parts: "<html><body>" + "".join(parts) + "</body></html>"
)


@settings(max_examples=150, deadline=None)
@given(_DOC)
def test_scanner_matches_stdlib_htmlparser(markup):
    """The compiled-regex scanner claims HTMLParser-equivalent events
    for well-formed markup — pin it: driving the same handler through
    stdlib html.parser must yield identical blocks and evidence."""
    from html.parser import HTMLParser

    from ai_pdf_extraction_spark.kernels.html_extract import (
        _MainContentParser,
        _scan,
    )

    class _StdlibDriver(HTMLParser):
        def __init__(self, sink):
            super().__init__(convert_charrefs=True)
            self.sink = sink

        def handle_starttag(self, tag, attrs):
            self.sink.handle_starttag(tag, attrs)

        def handle_endtag(self, tag):
            self.sink.handle_endtag(tag)

        def handle_startendtag(self, tag, attrs):
            self.sink.handle_startendtag(tag, attrs)

        def handle_data(self, data):
            self.sink.handle_data(data)

    ours = _MainContentParser()
    _scan(markup, ours)
    ours.close()

    theirs = _MainContentParser()
    drv = _StdlibDriver(theirs)
    drv.feed(markup)
    drv.close()
    theirs.close()

    assert ours.blocks == theirs.blocks
    assert ours.candidate_chars == theirs.candidate_chars
    assert ours.kind_candidate == theirs.kind_candidate
    assert ours.kind_kept == theirs.kind_kept
    assert ours.tables == theirs.tables


# Round-5 adversarial differential corpus: shapes chosen to stress the
# scanner's comment/rawtext/bogus-markup/entity/quoting paths — every
# one must produce IDENTICAL blocks+tables under the regex scanner and
# stdlib HTMLParser (a divergence here is a scanner bug even when both
# outputs look plausible).
_ADVERSARIAL_DOCS = (
    "<body><p>Keep this sentence here, it is long enough.</p>"
    "<!-- <p>hidden</p> --><p>Second real sentence, also long enough now.</p></body>",
    "<body><script>var a = '<p>not text</p>';</script>"
    "<p>Only this paragraph should remain in the text.</p></body>",
    "<body><?php echo 'x'; ?><p>This real paragraph stays after the php block.</p></body>",
    "<body><!--[if IE]><p>ie only</p><![endif]-->"
    "<p>Normal paragraph text that we keep around here.</p></body>",
    "<BODY><P>Uppercase tag paragraph with enough characters.</P></BODY>",
    '<body><div class="a\nnav">masked?</div>'
    "<p>Sentence after the newline class attribute test.</p></body>",
    "<body><div class=sidebar>masked text</div>"
    "<p>A legit paragraph that follows the sidebar block.</p></body>",
    "<body><p>Fish &amp; chips &lt;b&gt; &#65;&#x42; &notareal; end of line.</p></body>",
    "<!DOCTYPE html><body><p>Doctype paragraph with enough characters to keep.</p></body>",
    "<body><![CDATA[ raw > data ]]><p>Paragraph following a stray cdata section here.</p></body>",
    "<body><div data-x='he said \"hi\"'>"
    "<p>Quoted attribute paragraph, suitably long text.</p></div></body>",
    "<body><p>Compare: 3 < 5 and 7 > 2, a true statement overall.</p></body>",
    "<body><table><tr><td>cell one text</td><td>cell two text</td></table>"
    "<p>After table paragraph with plenty of text.</p></body>",
    "<title>Site Title</title><p>Body paragraph long enough for the filter to keep.</p>",
    "<body><svg><text>svg label</text></svg>"
    "<p>Paragraph after inline svg content block here.</p></body>",
    "<body><pre>  spaced   code   block  </pre>"
    "<p>Normal paragraph after the pre block, fine.</p></body>",
    "<body><my-widget>Inner text of a custom element stays visible.</my-widget>"
    "<p>Custom elements parse as unknown inline tags here.</p></body>",
)


def test_scanner_adversarial_corpus_matches_stdlib():
    """Deterministic differential corpus (see _ADVERSARIAL_DOCS) — the
    hypothesis grammar above can't reach these shapes."""
    from html.parser import HTMLParser

    from ai_pdf_extraction_spark.kernels.html_extract import (
        _MainContentParser,
        _scan,
    )

    class _StdlibDriver(HTMLParser):
        def __init__(self, sink):
            super().__init__(convert_charrefs=True)
            self.sink = sink

        def handle_starttag(self, tag, attrs):
            self.sink.handle_starttag(tag, attrs)

        def handle_endtag(self, tag):
            self.sink.handle_endtag(tag)

        def handle_startendtag(self, tag, attrs):
            self.sink.handle_startendtag(tag, attrs)

        def handle_data(self, data):
            self.sink.handle_data(data)

    for markup in _ADVERSARIAL_DOCS:
        ours = _MainContentParser()
        _scan(markup, ours)
        ours.close()
        theirs = _MainContentParser()
        drv = _StdlibDriver(theirs)
        drv.feed(markup)
        drv.close()
        theirs.close()
        assert ours.blocks == theirs.blocks, markup
        assert ours.tables == theirs.tables, markup
        # and the kept text is never empty on these content-bearing docs
        assert ours.blocks, markup


@settings(max_examples=150, deadline=None)
@given(_DOC)
def test_table_payload_invariants(markup):
    """Whatever the markup, the structured payload obeys its contract:
    keys are normalized snake_case (or positional col_N), values are
    non-empty strings, no row is empty, no table has zero rows."""
    import re

    res = extract_html(markup.encode("utf-8"))
    key_re = re.compile(r"^[a-z0-9_]+$")
    for table in res.tables:
        assert len(table) >= 1
        for row in table:
            assert isinstance(row, dict) and row
            for k, v in row.items():
                assert key_re.match(k), k
                assert isinstance(v, str) and v.strip() == v and v


def test_flate_compressed_pdf_extracts():
    raw = b"BT /F1 24 Tf 72 720 Td (Compressed title here) Tj ET"
    deflated = zlib.compress(raw)
    pdf = (
        b"%PDF-1.4\n4 0 obj\n<< /Length "
        + str(len(deflated)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + deflated
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    res = extract_pdf(pdf)
    assert res.parse_ok
    assert "Compressed title here" in res.text
    assert res.spans[0].kind == "title"


def test_corrupt_flate_stream_is_isolated():
    pdf = (
        b"%PDF-1.4\n<< /Length 10 /Filter /FlateDecode >>\nstream\n"
        b"not-zlib!!\nendstream\n%%EOF\n"
    )
    res = extract_pdf(pdf)
    assert res.parse_ok is False
    assert any("inflate" in w for w in res.warnings)


def test_mixed_compressed_corpus_roundtrip():
    """Generator emits ~half Flate streams; kernel must read both."""
    from ai_pdf_extraction_spark.corpus.generate import generate_pages

    pdfs = [r for r in generate_pages(400, seed=21) if r["html"][:4] == b"%PDF"]
    assert any(b"/FlateDecode" in r["html"] for r in pdfs)
    assert any(b"/FlateDecode" not in r["html"] for r in pdfs)
    for r in pdfs:
        res = extract_document(r["html"])
        assert res.parse_ok, r["url"]
        assert len(res.text) > 50


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=512), st.sampled_from(["latin-1", "utf-16-le", "cp1252", "utf-8"]))
def test_mixed_encoding_bytes_never_raise(markup, enc):
    """Crawl reality: pages arrive in whatever encoding the server
    chose, BOM-less and often mislabeled. The kernel must decode-or-
    replace, never raise, and spans must still index into the text."""
    try:
        data = ("<html><body><p>" + markup + "</p></body></html>").encode(enc)
    except (UnicodeEncodeError, UnicodeError):
        return  # char unrepresentable in this codec — not a kernel case
    res = extract_document(data)
    assert isinstance(res.text, str)
    for span in res.spans:
        assert 0 <= span.start <= span.end <= len(res.text)


def test_deep_nesting_never_recurses_out():
    """5000-deep nested divs (and unclosed tails): the scanner must be
    iterative — a recursive implementation would RecursionError far
    below crawl-pathology depth."""
    body = (
        "The quick brown fox jumps over the lazy dog near the river "
        "bank every single morning. " * 3
    )  # enough prose to clear the main-content threshold
    deep = "<div>" * 5000 + body + "</div>" * 5000
    res = extract_html(deep.encode())
    assert res.parse_ok and "quick brown fox" in res.text
    unclosed = "<div><ul><li>" * 3000 + body
    res2 = extract_html(unclosed.encode())
    assert res2.parse_ok and "quick brown fox" in res2.text


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=512))
def test_decode_png_exception_taxonomy(data):
    """Untrusted-media contract: decode_png raises ONLY ValueError /
    NotImplementedError on garbage — anything else (struct.error,
    zlib.error, IndexError, MemoryError) would escape decode_media's
    documented failure modes."""
    import pytest as _pytest

    from ai_pdf_extraction_spark.operators.gif_codec import decode_gif
    from ai_pdf_extraction_spark.operators.jpeg_codec import decode_jpeg
    from ai_pdf_extraction_spark.operators.png_codec import decode_png

    for decode, prefix in (
        (decode_png, b"\x89PNG\r\n\x1a\n"),
        (decode_gif, b"GIF89a"),
        (decode_jpeg, b"\xff\xd8\xff"),
    ):
        for payload in (data, prefix + data):
            try:
                decode(payload)
            except (ValueError, NotImplementedError):
                pass
            except Exception as exc:  # pragma: no cover
                _pytest.fail(f"unexpected {type(exc).__name__}: {exc}")


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_warc_parse_never_raises(data):
    """ST3 for the WARC parser: arbitrary bytes — bare, WARC-prefixed,
    or gzip-wrapped-then-corrupted — must parse to a (possibly empty)
    row list, never raise."""
    import gzip as _gzip

    from ai_pdf_extraction_spark.sources.warc import warc_bytes_to_rows

    for payload in (
        data,
        b"WARC/1.0\r\n" + data,
        b"\x1f\x8b" + data,
        _gzip.compress(data)[:-4] + b"\x00\x00",
    ):
        rows = warc_bytes_to_rows("fuzz", payload)
        assert isinstance(rows, list)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=1024))
def test_probe_media_never_raises(data):
    """Header parsers (png/jpeg/bmp/wav/webp/mp4 walkers) must never
    raise on arbitrary bytes — bias the fuzz toward each parser with
    magic-byte prefixes."""
    from ai_pdf_extraction_spark.operators.multimodal import probe_media

    for prefix in (
        b"",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8\xff",
        b"BM",
        b"RIFF\x10\x00\x00\x00WAVE",
        b"RIFF\x10\x00\x00\x00WEBP",
        b"\x00\x00\x00\x10ftypisom",
    ):
        meta = probe_media(prefix + data)
        assert isinstance(meta["n_bytes"], int)


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=150, max_value=480),  # right column x
    st.integers(min_value=0, max_value=12),     # right baseline offset
    st.integers(min_value=1, max_value=5),      # lines per column
    st.booleans(),                               # full-width title?
    st.booleans(),                               # trailing footer?
)
def test_two_column_pdf_shapes_never_raise_and_stay_ordered(
    rx, dy, n_lines, with_title, with_footer
):
    """Kernel-v14 fuzz pin: randomized two-column geometries (column
    gap from sub-threshold to wide, aligned to offset baselines, with
    and without full-width bands) must never raise, must be
    deterministic, and — whenever the geometry actually satisfies the
    split preconditions — must read every left-column line before any
    right-column line."""
    from ai_pdf_extraction_spark.kernels.pdf_extract import (
        _COLUMN_GAP_MIN,
        _LINE_Y_TOL,
        extract_pdf,
    )

    parts = []
    if with_title:
        parts.append("BT /F1 22 Tf 60 720 Td (Grand Header Spanning Wide) Tj ET")
    for col, (x, y0) in enumerate(((60, 680), (rx, 680 - dy))):
        ops = [f"BT /F1 9 Tf {x} {y0} Td 13 TL"]
        for j in range(n_lines):
            tail = "" if j == n_lines - 1 else " T*"
            ops.append(f"(c{col} l{j}) Tj{tail}")
        ops.append("ET")
        parts.append("\n".join(ops))
    if with_footer:
        parts.append("BT /F1 9 Tf 60 80 Td (Footer Line Extending Across The Whole Page Width Here) Tj ET")
    pdf = ("%PDF-1.4\nstream\n" + "\n".join(parts) + "\nendstream\n%%EOF\n").encode()

    res = extract_pdf(pdf)
    assert res.parse_ok
    res2 = extract_pdf(pdf)
    assert res.text == res2.text

    gap = rx - 60
    # baselines stay un-merged only when the offset keeps every right
    # baseline > _LINE_Y_TOL away from every left one MODULO the 13pt
    # leading (dy=12 puts right line j within 1pt of left line j+1 —
    # cross-column merge, the documented row-major corner)
    offset_baselines = min(dy % 13, 13 - dy % 13) > _LINE_Y_TOL
    if gap >= _COLUMN_GAP_MIN and offset_baselines and n_lines >= 2:
        # preconditions hold by construction → column order guaranteed
        last_left = res.text.index(f"c0 l{n_lines - 1}")
        first_right = res.text.index("c1 l0")
        assert last_left < first_right, res.text
    # every line's text must be present exactly once regardless
    for col in (0, 1):
        for j in range(n_lines):
            assert res.text.count(f"c{col} l{j}") == 1


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=37),   # width (crosses 8/16 blocks)
    st.integers(min_value=1, max_value=37),   # height
    st.sampled_from([1, 3]),                  # gray / RGB
    st.integers(min_value=5, max_value=95),   # quality
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_progressive_jpeg_roundtrip_matches_baseline(w, h, ch, quality, seed):
    """r6 fuzz extension (r5 verdict #8): across random geometry
    (including non-block-multiple and non-MCU-multiple dims), quality
    and content, the progressive (SOF2 spectral-selection) encoding
    must decode PIXEL-IDENTICAL to the baseline encoding of the same
    image — the multi-scan coefficient accumulation reconstructs
    exactly the coefficients the sequential scan carries."""
    import numpy as np

    from ai_pdf_extraction_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
    base = decode_jpeg(encode_jpeg(w, h, ch, pix, quality=quality))
    prog = decode_jpeg(
        encode_jpeg(w, h, ch, pix, quality=quality, progressive=True)
    )
    assert (base["width"], base["height"]) == (w, h)
    assert base["pixels"] == prog["pixels"]


@settings(max_examples=120, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),  # image seed
    st.lists(  # byte mutations (position-fraction, new byte value)
        st.tuples(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_mutated_progressive_jpeg_stays_in_taxonomy(seed, mutations):
    """Corrupted PROGRESSIVE streams (multi-scan accumulation,
    successive approximation, EOB-run state) must fail inside the
    documented taxonomy (ValueError/NotImplementedError) or decode to
    a well-formed result — never IndexError/struct.error/MemoryError,
    and never hang (the r6 bitbuf-growth class)."""
    import numpy as np
    import pytest as _pytest

    from ai_pdf_extraction_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    w = h = 24
    pix = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    data = bytearray(
        encode_jpeg(w, h, 3, pix, quality=75, progressive=True)
    )
    for frac, val in mutations:
        # mutate past the SOI marker so the format stays 'jpeg'
        pos = 2 + int(frac * (len(data) - 3))
        data[pos] = val
    try:
        out = decode_jpeg(bytes(data))
    except (ValueError, NotImplementedError):
        return
    except Exception as exc:  # pragma: no cover
        _pytest.fail(f"unexpected {type(exc).__name__}: {exc}")
    assert len(out["pixels"]) == out["width"] * out["height"] * out["channels"]


_FIELD_TYPES = st.sampled_from(
    ["text", "number", "currency", "date", "boolean", "percentage", "email"]
)
_FIELD_NAMES = st.sampled_from(["alpha", "beta", "gamma", "delta"])
_JSON_VALUES = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet="abz019@%$,.:/- ", max_size=18),
    st.integers(min_value=-10**9, max_value=10**9).map(str),
    st.just("01/15/2024"),
    st.just("$1,234.56"),
    st.just("yes"),
    st.just("12%"),
)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(_FIELD_NAMES, _FIELD_TYPES, st.booleans()),
        min_size=1, max_size=4, unique_by=lambda t: t[0],
    ),
    st.dictionaries(_FIELD_NAMES, _JSON_VALUES, max_size=4),
)
def test_apply_schema_never_raises_and_warns_exactly(spark, fields, doc):
    """Registry robustness: ANY config over the supported types applied
    to ANY JSON document must plan+execute without raising, emit one
    typed column per field, and warn exactly for required fields whose
    key is PRESENT with an explicit null/empty value — absent keys are
    trusted (P6, validation.py:441-445)."""
    import json as _json

    from ai_pdf_extraction_spark.functions.schema_registry import apply_schema
    schema = {
        "name": "fuzz",
        "version": 1,
        "fields": [
            {"name": n, "type": t, "required": r} for n, t, r in fields
        ],
    }
    df = spark.createDataFrame(
        [(1, _json.dumps(doc))], "id long, doc string"
    )
    out = apply_schema(df, schema, "doc", keys=["id"]).collect()[0].asDict()
    for n, _t, _r in fields:
        assert n in out
    expected_warn = sorted(
        f"Required field '{n}' is empty"
        for n, _t, r in fields
        if r and n in doc and (doc[n] is None or doc[n] == "")
    )
    assert sorted(out["schema_warnings"]) == expected_warn


# ---------------------------------------------------------------------------
# round-7 shared kernels: BPE tokenizer + hashed-ngram LID
# (the shared-kernel rule: the DuckDB oracle and the UDFs both import
# these, so parity tests alone are tautological — fuzz the kernels
# directly, and pin the kernel against its INDEPENDENT naive twin)
# ---------------------------------------------------------------------------

from ai_pdf_extraction_spark.kernels.bpe import (  # noqa: E402
    BpeTokenizer,
    encode_word,
    pre_tokenize,
    train_bpe,
)

_BPE_TOK = BpeTokenizer()


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_bpe_tokenizer_lossless_bounded_and_matches_naive(text):
    """Tokens must be a refinement of the pre-tokenization (lossless
    concat, never fewer tokens than pre-tokens, never more than
    characters), and the greedy lowest-rank loop must agree with the
    independent one-pair-at-a-time naive twin on arbitrary unicode."""
    from ai_pdf_extraction_spark.oracle.bpe_naive import naive_tokens

    toks = _BPE_TOK.tokens(text)
    pts = pre_tokenize(text)
    assert "".join(toks) == "".join(pts)
    assert _BPE_TOK.count(text) == len(toks)
    assert len(pts) <= len(toks) <= sum(len(w) for w in pts)
    assert toks == naive_tokens(text, _BPE_TOK.ranks)


@settings(max_examples=150, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abcdé9.", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=60),
        max_size=12,
    ),
    st.integers(min_value=0, max_value=12),
)
def test_train_bpe_merges_always_reapply_losslessly(word_freqs, n_merges):
    """Training on arbitrary tiny vocabularies never raises, honours
    the merge budget, and the learned table re-tokenizes every trained
    word back to itself (encode_word is total over the train set)."""
    merges = train_bpe(word_freqs, n_merges)
    assert len(merges) <= n_merges
    ranks = {p: i for i, p in enumerate(merges)}
    for w in word_freqs:
        assert "".join(encode_word(w, ranks)) == w


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_lid_model_total_and_closed_over_langset(text):
    """The committed hashed-ngram classifier must be total on
    arbitrary unicode: predict always lands in langs ∪ {und}, scores
    are one int per language, and empty/whitespace text is 'und'."""
    from ai_pdf_extraction_spark.kernels.lid import UNKNOWN, LidModel

    m = _LID_MODEL
    p = m.predict(text)
    assert p == UNKNOWN or p in m.langs
    s = m.scores(text)
    if s is None:
        assert p == UNKNOWN
    else:
        assert len(s) == len(m.langs) and all(isinstance(x, int) for x in s)
    if not text.strip():
        assert p == UNKNOWN


from ai_pdf_extraction_spark.kernels.lid import LidModel as _LidModel  # noqa: E402

_LID_MODEL = _LidModel()
