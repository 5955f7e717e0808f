"""Deterministic synthetic Common-Crawl-style page corpus (FIXTURES.md §1).

Generates rows ``(url, warc_ts, html binary, text, lang)`` with:

* ~88% HTML pages — known main content wrapped in known boilerplate
  (nav/header/footer/sidebar/ads with high link density), so the
  boilerplate classifier has an exact expected output;
* ~8% PDF pages — minimal handcrafted single-column PDFs (pattern from
  the reference's test fixture, ``tests/conftest.py:20-59``);
* ~4% malformed rows — empty bytes, truncated HTML, junk binary —
  which must yield ``parse_ok=false``, never task failure (reference
  failure isolation: ``routers/batches.py:177-188``);
* one skewed host holding ~30% of rows (exercises salted repartition,
  SURVEY.md §7.4) plus a long tail of unique hosts.

Everything is seeded (default seed=42) and uses only ``random.Random``
arithmetic — no wall clock, no external data.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

_VOCAB = (
    "data spark engine cluster shuffle partition column vector batch arrow "
    "document page extract content text layout block heading kernel plan "
    "query join filter scan sink source schema record table bucket salt "
    "metric lineage snapshot resume commit stream byte span token corpus "
    "index merge sort limit window group reduce combine probe build hash"
).split()

_DE_VOCAB = (
    "daten seite inhalt block absatz tabelle spalte zeile verteilt "
    "verarbeitung dokument text auszug plan anfrage schlüssel wert satz"
).split()

SKEWED_HOST = "big.example.com"
_EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc)

# Bump whenever generated bytes change (cache-busts /tmp corpora that
# bench/contract tools key on docs+seed across rounds).
# v2: ~half of PDF content streams FlateDecode-compressed
# v3: inline links/emphasis/entities in content paragraphs; some PDF
#     text emitted as hex strings
# v4: some PDF lines emitted as TJ arrays with kerning word gaps
# v5: 128-doc parquet row groups (content identical to v4 — layout
#     only, so byte-range splits align with readable data)
# v6: real-world HTML recovery shapes — omitted </head>, void
#     ad-images, self-closed tags, nested advert divs, inline social
#     links mid-paragraph, textarea widgets, occasional unclosed <a>
# v7: adversarial boiler shapes — container-level share link followed
#     by sibling bare text, nested <a> inside an open boiler <a>,
#     unclosed inline boiler at container level, unquoted attribute
#     links, occasional latin-1-encoded page bytes
# v8: some PDF pages carry a column-aligned table block (one Td-moved
#     text run per cell on a shared baseline) — feeds the structured
#     table capture
# v9: kernel-v12 shapes — pages omitting <body> along with </head>,
#     XHTML self-closed <td/> rows, PDF quote show-text operator lines
# v10: quote-op lines no longer double-advance the baseline (the line
#      before a quote line suppresses its T*)
# v11: ~quarter of PDF pages are TWO-COLUMN (kernel-v14 shape): a
#      full-width 22pt title, then a left column at x=60 and a right
#      column at x=330, 9pt, 3-5 short lines each — the invoice/8-K
#      layout class the column split exists for
CORPUS_VERSION = 11


def _sentence(rng: random.Random, vocab: list[str], n_words: int) -> str:
    words = [rng.choice(vocab) for _ in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph_html(rng: random.Random, vocab: list[str]) -> str:
    """Content paragraph with realistic inline markup: occasional short
    inline links (low link ratio — must still be kept), emphasis tags,
    and character entities."""
    sentences = []
    for _ in range(rng.randint(2, 5)):
        s = _sentence(rng, vocab, rng.randint(6, 14))
        roll = rng.random()
        if roll < 0.15:
            words = s.split()
            k = rng.randrange(len(words))
            words[k] = f'<a href="/ref/{k}">{words[k]}</a>'
            s = " ".join(words)
        elif roll < 0.3:
            words = s.split()
            k = rng.randrange(len(words))
            tag = rng.choice(("b", "em", "strong", "i"))
            words[k] = f"<{tag}>{words[k]}</{tag}>"
            s = " ".join(words)
        elif roll < 0.38:
            s = s.replace(" ", " &amp; ", 1) if " " in s else s
        elif roll < 0.44:
            # inline social widget mid-sentence (masked, not splitting)
            s += ' <a class="share" href="#">Share</a>'
        elif roll < 0.46:
            # nested <a> inside an open boiler <a>: HTML5 implied close
            # — text after the inner anchor must stay live
            words = s.split()
            k = rng.randrange(len(words))
            words[k] = (
                '<a class="share" href="#">Share'
                f'<a href="/ref/{k}">{words[k]}</a>'
            )
            s = " ".join(words)
        elif roll < 0.50:
            # unquoted attribute value (legal HTML, trips naive regex
            # tokenizers; a trailing '/' is part of the URL, not XHTML)
            words = s.split()
            k = rng.randrange(len(words))
            words[k] = f"<a href=/ref/{k}/>{words[k]}</a>"
            s = " ".join(words)
        elif roll < 0.54:
            # author forgot the </a> — recovery must not poison later
            # blocks' link ratios
            words = s.split()
            k = rng.randrange(len(words))
            words[k] = f'<a href="/ref/{k}">{words[k]}'
            s = " ".join(words)
        elif roll < 0.60:
            s = s.replace(" ", "<br/> ", 1) if " " in s else s
        sentences.append(s)
    return " ".join(sentences)


def _nav_links(rng: random.Random, n: int) -> str:
    return "".join(
        f'<li><a href="/{rng.choice(_VOCAB)}/{i}">{rng.choice(_VOCAB).capitalize()}</a></li>'
        for i in range(n)
    )


def _build_html(rng: random.Random, lang: str) -> bytes:
    vocab = _DE_VOCAB if lang == "de" else _VOCAB
    title = _sentence(rng, vocab, rng.randint(3, 6)).rstrip(".")
    paras = [_paragraph_html(rng, vocab) for _ in range(rng.randint(2, 6))]
    has_list = rng.random() < 0.4
    has_table = rng.random() < 0.3
    list_html = ""
    if has_list:
        items = "".join(
            f"<li>{_sentence(rng, vocab, rng.randint(4, 9))}</li>" for _ in range(rng.randint(3, 6))
        )
        list_html = f"<ul>{items}</ul>"
    table_html = ""
    if has_table:
        rows = "".join(
            f"<tr><td>{_sentence(rng, vocab, 3)}</td><td>{rng.randint(1, 999)} units</td></tr>"
            for _ in range(rng.randint(2, 4))
        )
        if rng.random() < 0.2:
            # XHTML-style self-closed empty cell: HTML5 parses <td/> as
            # an OPEN cell (kernel v12) — the row keeps 2 columns with
            # an empty first value
            rows += f"<tr><td/><td>{rng.randint(1, 999)} units</td></tr>"
        table_html = f"<table><tr><th>Item description</th><th>Amount</th></tr>{rows}</table>"
    body_paras = "".join(f"<p>{p}</p>" for p in paras)
    if rng.random() < 0.3:
        # nested same-named div inside the advert (real ad containers
        # nest) — boiler mode must survive the inner close tag
        ad = (
            '<div class="advert banner"><div><p>Buy now!</p></div>'
            '<p><a href="/ad">Click here for a great deal</a> limited offer</p></div>'
        )
    else:
        ad = (
            '<div class="advert banner"><p>Buy now! <a href="/ad">Click here for a great deal</a>'
            " limited offer</p></div>"
        )
    # void ad image before the article (no close tag — must not stick
    # boiler mode), sometimes XHTML self-closed
    ad_img = ""
    roll = rng.random()
    if roll < 0.2:
        ad_img = '<img class="advert" src="/banner.png" alt="ad">'
    elif roll < 0.3:
        ad_img = '<img class="advert" src="/banner.png"/>'
    widget = (
        f"<textarea>Leave a comment about {rng.choice(vocab)} here</textarea>"
        if rng.random() < 0.15
        else ""
    )
    head_close = "" if rng.random() < 0.25 else "</head>"  # HTML5 optional
    # valid HTML5 also allows omitting <body>; when both are omitted,
    # the first flow element implies the head is over (kernel v12)
    body_open = "" if (not head_close and rng.random() < 0.4) else "<body>"

    meta = (
        '<meta charset="utf-8"/>' if rng.random() < 0.5 else '<meta charset="utf-8">'
    )
    sep = "<hr/>" if rng.random() < 0.2 else ""
    # container-level inline boiler followed by SIBLING bare text (the
    # round-2 external repro: the sibling sentence must survive) —
    # sometimes with the </a> missing entirely
    share_div = ""
    roll = rng.random()
    if roll < 0.15:
        share_div = (
            '<div><a class="share" href="#">Share</a> '
            + _sentence(rng, vocab, rng.randint(8, 14))
            + "</div>"
        )
    elif roll < 0.22:
        share_div = (
            '<div><a class="share" href="#">Share '
            + _sentence(rng, vocab, rng.randint(8, 14))
            + "</div>"
        )
    sidebar_links = _nav_links(rng, rng.randint(4, 8))
    comments = (
        '<div id="comments"><p>'
        + _sentence(rng, vocab, rng.randint(5, 9))
        + "</p></div>"
    )
    html = (
        f"<!DOCTYPE html><html><head>{meta}"
        f"<title>{title} | Example Site</title>"
        '<script>var trackingId="x42";analytics.init();</script>'
        "<style>body{margin:0}.advert{color:red}</style>"
        f"{head_close}{body_open}"
        '<header><div class="logo">Example Site</div>'
        f"<nav><ul>{_nav_links(rng, rng.randint(5, 9))}</ul></nav></header>"
        '<div class="breadcrumbs"><a href="/">Home</a> &gt; <a href="/s">Section</a></div>'
        f"{ad_img}<main><article><h1>{title}</h1>"
        f"{body_paras}{sep}{share_div}{list_html}{table_html}"
        "</article></main>"
        f'<aside class="sidebar"><h3>Related posts</h3><ul>{sidebar_links}</ul>{ad}</aside>'
        f"{comments}{widget}"
        '<footer><p>© 2025 Example Site — <a href="/privacy">Privacy</a>'
        ' <a href="/terms">Terms</a></p></footer>'
        "</body></html>"
    )
    if lang == "de" and rng.random() < 0.2:
        # legacy-encoded page: umlauts as latin-1 bytes (not valid
        # UTF-8) — exercises the kernel's latin-1 fallback path. The
        # injected "Süd" guarantees at least one non-ASCII byte even
        # when the sampled vocab happens to be ASCII-only.
        html = html.replace("Example Site", "Beispiel Süd", 1)
        return html.encode("latin-1", "replace")
    return html.encode("utf-8")


def _build_pdf(rng: random.Random) -> bytes:
    """Minimal valid single-column PDF with uncompressed content
    streams, one stream per page (reference pattern:
    ``tests/conftest.py:20-59``)."""
    n_pages = rng.randint(1, 3)
    page_streams: list[bytes] = []
    for _ in range(n_pages):
        if rng.random() < 0.25:
            # two-column page (corpus v11 / kernel v14): full-width
            # 22pt title, then two 9pt columns — left x=60, right
            # x=330 (270pt start gap ≫ the 72pt column threshold;
            # short lines stay well inside the 0.25·gap span limit)
            title = _sentence(rng, _VOCAB, rng.randint(5, 7)).rstrip(".")
            parts = [f"BT /F1 22 Tf 60 720 Td ({_esc(title)}) Tj ET"]
            # columns start at OFFSET baselines (680 vs 674) — the real
            # two-column shape: independent leading, interleaved in -y,
            # which is exactly the zipper the column split un-zips
            # (exactly-aligned baselines would merge into table-like
            # rows upstream instead)
            for col_x, y in ((60, 680), (330, 674)):
                parts.append(f"BT /F1 9 Tf {col_x} {y} Td 13 TL")
                n_lines = rng.randint(3, 5)
                for j in range(n_lines):
                    # ≤4 words: worst-case 9-char vocab keeps the
                    # estimated line extent (60 + 4.5·40 = 240) inside
                    # the 262.5 span limit — columnar, never full-width
                    line = _sentence(rng, _VOCAB, rng.randint(3, 4))
                    tail = "" if j == n_lines - 1 else " T*"
                    parts.append(f"({_esc(line)}) Tj{tail}")
                parts.append("ET")
            page_streams.append("\n".join(parts).encode("latin-1"))
            continue
        title = _sentence(rng, _VOCAB, rng.randint(3, 5)).rstrip(".")
        parts = [f"BT /F1 24 Tf 72 720 Td ({_esc(title)}) Tj ET"]
        y = 680
        for _ in range(rng.randint(2, 4)):
            n_lines = rng.randint(2, 4)
            parts.append(f"BT /F1 12 Tf 72 {y} Td 16 TL")
            line_ops = []
            for j in range(n_lines):
                line = _sentence(rng, _VOCAB, rng.randint(5, 9))
                roll = rng.random()
                if roll < 0.15:  # hex-string text operator
                    payload = f"<{line.encode('latin-1').hex()}>"
                    op = "Tj"
                elif roll < 0.3:  # TJ array with kerning word gaps
                    words = line.split(" ")
                    payload = "[" + " -250 ".join(f"({_esc(w)})" for w in words) + "]"
                    op = "TJ"
                elif roll < 0.4 and j > 0:  # quote op: spacing+T*+show
                    payload = f"0 0 ({_esc(line)})"
                    op = '"'
                else:
                    payload = f"({_esc(line)})"
                    op = "Tj"
                line_ops.append((payload, op))
            for j, (payload, op) in enumerate(line_ops):
                # the quote op advances its OWN line, so the line
                # BEFORE it must not emit T* (double-advance split
                # paragraphs mid-block in corpus v9)
                next_is_quote = j + 1 < n_lines and line_ops[j + 1][1] == '"'
                if op == '"' or j == n_lines - 1 or next_is_quote:
                    parts.append(f"{payload} {op}")
                else:
                    parts.append(f"{payload} {op} T*")
                y -= 16
            parts.append("ET")
            y -= 30  # block gap > 1.6 * 12
        if rng.random() < 0.35:
            # column-aligned table block: one Td-moved run per cell on
            # a shared baseline (header + 2-4 data rows) — the PDF
            # analogue of the HTML <table> for structured capture
            n_rows = rng.randint(2, 4)
            header = ("Item description", "Amount", "Status")
            statuses = ("open", "closed", "billed")
            rows = [header] + [
                (
                    _sentence(rng, _VOCAB, 2).rstrip("."),
                    f"{rng.randint(1, 999)} units",
                    rng.choice(statuses),
                )
                for _ in range(n_rows)
            ]
            for r in rows:
                parts.append(
                    f"BT /F1 10 Tf 72 {y} Td ({_esc(r[0])}) Tj "
                    f"200 0 Td ({_esc(r[1])}) Tj 120 0 Td ({_esc(r[2])}) Tj ET"
                )
                y -= 14
            y -= 30
        page_streams.append("\n".join(parts).encode("latin-1"))

    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    font_obj_num = 3 + 2 * n_pages
    for i, stream in enumerate(page_streams):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 {font_obj_num} 0 R >> >> >>"
            ).encode()
        )
        # ~half the streams Flate-compressed, like real-world PDFs
        if rng.random() < 0.5:
            import zlib

            deflated = zlib.compress(stream)
            objs.append(
                f"<< /Length {len(deflated)} /Filter /FlateDecode >>\nstream\n".encode()
                + deflated
                + b"\nendstream"
            )
        else:
            objs.append(
                f"<< /Length {len(stream)} >>\nstream\n".encode()
                + stream
                + b"\nendstream"
            )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _crawler_text(rng: random.Random, raw: bytes) -> str | None:
    """Crawler-provided text column: a lossy strip, NOT the target;
    nullable (FIXTURES.md §1)."""
    if rng.random() < 0.2:
        return None
    import re as _re

    txt = _re.sub(rb"<[^>]+>", b" ", raw[:4000])
    return _re.sub(rb"\s+", b" ", txt).strip().decode("utf-8", "replace")[:500]


def generate_pages(n_docs: int, seed: int = 42) -> list[dict]:
    """Generate ``n_docs`` deterministic page rows."""
    rng = random.Random(seed)
    rows: list[dict] = []
    for i in range(n_docs):
        roll = rng.random()
        if roll < 0.30:
            host = SKEWED_HOST
        else:
            host = f"host-{rng.randint(0, max(1, n_docs // 3))}.example.org"
        lang = "de" if rng.random() < 0.15 else "en"
        kind_roll = rng.random()
        if kind_roll < 0.88:
            path_ext = "html"
            content = _build_html(rng, lang)
        elif kind_roll < 0.96:
            path_ext = "pdf"
            content = _build_pdf(rng)
        else:
            # malformed: empty / truncated html / junk binary
            path_ext = "html"
            bad = rng.randint(0, 2)
            if bad == 0:
                content = b""
            elif bad == 1:
                content = _build_html(rng, lang)[: rng.randint(10, 80)]
            else:
                content = bytes(rng.randrange(256) for _ in range(rng.randint(16, 64)))
        url = f"https://{host}/page/{i:08d}.{path_ext}"
        warc_ts = _EPOCH + timedelta(seconds=rng.randint(0, 86400 * 30))
        rows.append(
            {
                "url": url,
                "warc_ts": warc_ts,
                "html": content,
                "text": _crawler_text(rng, content) if content else None,
                "lang": lang,
            }
        )
    return rows


def _rows_to_table(rows: list[dict]):
    import pyarrow as pa

    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )


def write_pages_parquet(path: str, n_docs: int, seed: int = 42, n_files: int = 1) -> int:
    """Write the corpus via pyarrow (Spark-free, so the pytest oracle
    can build fixtures without a JVM).

    ``n_files > 1`` writes a directory of part files — the local
    emulation of how a crawl actually arrives (many WARC-derived
    files), so Spark's scan is parallel from its first stage.

    Writes are ATOMIC (temp path + rename): bench/contract tools treat
    "path exists" as cache-valid, so an interrupted generation must
    never leave a half-written corpus behind.
    """
    import os
    import uuid

    import pyarrow.parquet as pq

    rows = generate_pages(n_docs, seed)
    # Small row groups (vs pyarrow's default of one per file): Spark
    # splits files by BYTE ranges but parquet reads whole row groups,
    # so a 1-row-group file turns every sub-file split into an empty
    # task and serializes the work on one straggler. 128-doc groups
    # keep splits aligned with real data.
    rg = 128
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    if n_files <= 1:
        pq.write_table(_rows_to_table(rows), tmp, row_group_size=rg)
    else:
        os.makedirs(tmp, exist_ok=True)
        per = (len(rows) + n_files - 1) // n_files
        for i in range(n_files):
            chunk = rows[i * per : (i + 1) * per]
            if chunk:
                pq.write_table(
                    _rows_to_table(chunk),
                    os.path.join(tmp, f"part-{i:05d}.parquet"),
                    row_group_size=rg,
                )
    try:
        os.rename(tmp, path)
    except OSError:
        # another process finished first — its corpus is identical
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return len(rows)
