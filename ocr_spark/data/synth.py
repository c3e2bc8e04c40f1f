"""Deterministic seeded synthesizer for the ``pages`` corpus.

Emits exactly the shape mandated by BASELINE.json ``input_hint``:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Genres per FIXTURES.md §1: boilerplate-heavy articles, link farms,
table-heavy pages, empty bodies, broken markup, multi-charset
(utf-8 / cp949 / latin-1 / BOM), a giant page + many tiny pages on one
host (skew), duplicate urls at different ``warc_ts``, restricted-subset
PDFs (1-page, multi-page, empty, Tj/TJ/Td/TD/Tm variety), and random
unsupported bytes.

Everything derives from ``random.Random(seed)`` — no wall clock, no
os-level entropy — so regeneration is byte-stable (SURVEY.md §5.2.3).
"""

from __future__ import annotations

import datetime as dt
import random

__all__ = ["gen_pages", "write_pages_parquet",
           "build_pdf", "build_pdf_from_streams", "build_pdf_two_column",
           "build_png", "GENRES"]

_WORDS = (
    "the quick brown fox jumps over lazy dog data spark engine extract "
    "content boiler plate main article news report table row column "
    "value page crawl web text density link block classify batch arrow "
    "partition shuffle bucket salt skew resume manifest lineage metric "
    "deterministic oracle golden fixture parse charset normalize span"
).split()

_KO_WORDS = (
    "사업자 등록증 상호 대표자 개업 연월일 법인 주소 업태 종목 문서 추출 "
    "본문 내용 기사 표 행 열 값 페이지 웹 텍스트 밀도 링크 블록 분류"
).split()

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

GENRES = (
    "article", "linkfarm", "tableheavy", "emptybody", "broken",
    "cp949", "latin1", "bom", "giant", "tiny", "pdf1", "pdfmulti",
    "pdfflate", "pdfempty", "unsupported", "shortarticle",
)


def _sent(rng: random.Random, n: int, words=_WORDS) -> str:
    return " ".join(rng.choice(words) for _ in range(n))


def _nav(rng: random.Random, n_links: int = 8) -> str:
    items = "".join(
        f'<li><a href="/{_sent(rng, 1)}/{i}">{_sent(rng, 2)}</a></li>'
        for i in range(n_links)
    )
    return f"<nav><ul>{items}</ul></nav>"


def _footer(rng: random.Random) -> str:
    links = " ".join(
        f'<a href="/f{i}">{_sent(rng, 1)}</a>' for i in range(5)
    )
    return f"<footer><p>{links}</p><p>copyright {_sent(rng, 3)}</p></footer>"


def _sidebar(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/s/{i}">{_sent(rng, 3)}</a></li>' for i in range(6)
    )
    return f"<aside><h3>{_sent(rng, 2)}</h3><ul>{items}</ul></aside>"


def _article_html(rng: random.Random, n_paras: int, words_per: int,
                  charset: str = "utf-8", lang_words=_WORDS,
                  bom: bool = False) -> bytes:
    paras = "".join(
        f"<p>{_sent(rng, max(2, words_per + rng.randint(-5, 5)), lang_words)}</p>"
        for _ in range(n_paras)
    )
    title = _sent(rng, 4, lang_words)
    html = (
        f'<!DOCTYPE html><html><head><meta charset="{charset}">'
        f"<title>{title}</title>"
        f"<script>var x = {rng.randint(0, 9)};</script>"
        f"<style>body {{ margin: 0 }}</style></head><body>"
        f"{_nav(rng)}<article><h1>{title}</h1>{paras}</article>"
        f"{_sidebar(rng)}{_footer(rng)}</body></html>"
    )
    enc = {"utf-8": "utf-8", "euc-kr": "cp949", "iso-8859-1": "latin-1"}[charset]
    payload = html.encode(enc, "replace")
    if bom and enc == "utf-8":
        payload = b"\xef\xbb\xbf" + payload
    return payload


def _linkfarm_html(rng: random.Random) -> bytes:
    links = "".join(
        f'<p><a href="/l/{i}">{_sent(rng, rng.randint(2, 6))}</a></p>'
        for i in range(rng.randint(15, 40))
    )
    return (
        f"<html><head><meta charset=\"utf-8\"></head><body>{_nav(rng, 12)}"
        f"<div>{links}</div>{_footer(rng)}</body></html>"
    ).encode()


def _tableheavy_html(rng: random.Random) -> bytes:
    rows = "".join(
        "<tr>" + "".join(
            f"<td>{_sent(rng, rng.randint(3, 8))}</td>" for _ in range(4)
        ) + "</tr>"
        for _ in range(rng.randint(6, 15))
    )
    lead = _sent(rng, 30)
    return (
        f'<html><head><meta charset="utf-8"></head><body>{_nav(rng)}'
        f"<main><p>{lead}</p><table>{rows}</table></main>"
        f"{_footer(rng)}</body></html>"
    ).encode()


def _broken_html(rng: random.Random) -> bytes:
    # Unclosed tags, stray brackets, nested misuse.
    return (
        f"<html><body><div><p>{_sent(rng, 25)}<p>{_sent(rng, 22)}"
        f"<ul><li>{_sent(rng, 6)}<li><a href=x>{_sent(rng, 3)}</a>"
        f"<table><tr><td>{_sent(rng, 20)}</body>"
    ).encode()


def _empty_html(rng: random.Random) -> bytes:
    return b"<html><head><title>t</title></head><body>   \n\t  </body></html>"


def build_pdf(blocks: list[list[str]], operators: str = "mixed",
              n_pages: int = 1, rng: random.Random | None = None,
              compress: bool = False) -> bytes:
    """Build a restricted-subset PDF the oracle parser handles: page
    tree, per-page content stream, BT/ET + Td/TD/Tm/T*/Tj/TJ;
    ``compress=True`` deflates the content streams (FlateDecode).

    ``blocks`` is a list of blocks, each a list of lines (page 0 content;
    later pages get a deterministic footer line so multi-page tests can
    assert page-0-only semantics, services/file_processor.py:77).
    """
    rng = rng or random.Random(0)

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    def page_stream(blks: list[list[str]], page_no: int) -> bytes:
        parts = ["BT", "/F1 12 Tf", "16 TL"]
        y = 760
        style_cycle = ["Td", "TD", "Tm", "Tstar", "TJ"]
        k = page_no
        for blk in blks:
            first = True
            for line in blk:
                style = style_cycle[k % len(style_cycle)] if operators == "mixed" else operators
                k += 1
                if style == "Tm":
                    parts.append(f"1 0 0 1 72 {y} Tm")
                    parts.append(f"({esc(line)}) Tj")
                elif style == "TD":
                    if first:
                        # TD is relative to the current line start; reset
                        # it so the block-first move is effectively
                        # absolute (without this, later blocks inherited
                        # the previous trailing Tm and landed at bogus
                        # x=144 / y>1000 coordinates).
                        parts.append("1 0 0 1 0 0 Tm")
                    parts.append(f"72 {y} TD" if first else f"0 -16 TD")
                    parts.append(f"({esc(line)}) Tj")
                    parts.append(f"1 0 0 1 0 0 Tm")  # reset for next abs move
                    parts.append(f"1 0 0 1 72 {y} Tm")
                elif style == "Tstar":
                    parts.append(f"1 0 0 1 72 {y} Tm")
                    parts.append(f"({esc(line)}) Tj")
                elif style == "TJ":
                    mid = max(1, len(line) // 2)
                    parts.append(f"1 0 0 1 72 {y} Tm")
                    parts.append(f"[({esc(line[:mid])}) -250 ({esc(line[mid:])})] TJ")
                else:  # Td
                    parts.append(f"1 0 0 1 72 {y} Tm")
                    parts.append(f"({esc(line)}) Tj")
                y -= 16
                first = False
            y -= 40  # block gap >> line leading
        parts.append("ET")
        return "\n".join(parts).encode("latin-1")

    streams = []
    for p in range(n_pages):
        blks = blocks if p == 0 else [[f"page {p} footer line"]]
        streams.append(page_stream(blks, p))
    return build_pdf_from_streams(streams, compress=compress)


# layout constants shared by build_pdf_two_column, its unit tests, and
# the pdf_layout driver oracle: left column at x=72 with tokens capped
# to 12 chars (nominal width 6pt/char -> right edge <= 144), right
# column at x=340 -> a >=196pt gutter the XY-cut must find; title at
# y=760 vs body top y=700 -> a 60pt band gap > 3x the 16pt leading.
TWOCOL_TOKEN_CAP = 12
TWOCOL_LEFT_X = 72
TWOCOL_RIGHT_X = 340
TWOCOL_TITLE_Y = 760
TWOCOL_BODY_Y = 700
TWOCOL_LEADING = 16


def build_pdf_two_column(title: str, left_lines: list[str],
                         right_lines: list[str],
                         compress: bool = False) -> bytes:
    """Build a one-page two-column PDF (full-width title band above a
    two-column body) for exercising XY-cut reading-order reconstruction
    (`ocr_spark.extractor.core._xy_cut`).  Correct extraction reads
    title, then the whole left column, then the whole right column;
    a y-sorted (non-segmenting) reader would interleave the columns
    line-by-line because both columns share baselines."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    parts = ["BT", "/F1 12 Tf", f"{TWOCOL_LEADING} TL",
             f"1 0 0 1 {TWOCOL_LEFT_X} {TWOCOL_TITLE_Y} Tm",
             f"({esc(title)}) Tj"]
    for x, lines in ((TWOCOL_LEFT_X, left_lines),
                     (TWOCOL_RIGHT_X, right_lines)):
        for i, line in enumerate(lines):
            parts.append(
                f"1 0 0 1 {x} {TWOCOL_BODY_Y - TWOCOL_LEADING * i} Tm")
            parts.append(f"({esc(line[:TWOCOL_TOKEN_CAP])}) Tj")
    parts.append("ET")
    return build_pdf_from_streams(["\n".join(parts).encode("latin-1")],
                                  compress=compress)


def build_pdf_from_streams(streams: list[bytes], compress: bool = False) -> bytes:
    """Assemble a PDF from raw page content streams (one per page).
    ``compress=True`` deflates each stream and declares
    ``/Filter /FlateDecode`` — the compressed-PDF genre the extractor
    must handle (every real-world PDF uses Flate; reference ingests
    arbitrary PDFs via fitz, services/file_processor.py:64-90)."""
    import zlib

    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    n_pages = len(streams)
    pages_obj_num = 2 * n_pages + 1
    page_ids = []
    for stream in streams:
        data = zlib.compress(stream) if compress else stream
        filt = b"/Filter /FlateDecode " if compress else b""
        cid = add(
            b"<< " + filt + f"/Length {len(data)} >>\nstream\n".encode()
            + data + b"\nendstream"
        )
        pid = add(
            f"<< /Type /Page /Parent {pages_obj_num} 0 R "
            f"/MediaBox [0 0 612 792] /Contents {cid} 0 R >>".encode()
        )
        page_ids.append(pid)
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    pages_id = add(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    catalog_id = add(f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode())

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objs)+1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs)+1} /Root {catalog_id} 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


def build_png(width: int, height: int, base: int = 0,
              color_type: int = 2, filter_type: int = 0,
              pixel_fn=None, palette_size: int = 256) -> bytes:
    """A REAL (spec-conformant, zlib-inflatable, CRC-correct) PNG whose
    pixels are a deterministic closed-form function of (base, index):
    channel value at pixel i, channel c = (base + channels*i + c) % 256
    — so an oracle can recompute per-channel means arithmetically
    without decoding anything.  ``filter_type`` pre-filters every
    scanline with the given PNG filter (0..4) so decoders must actually
    unfilter; ``pixel_fn(i, c) -> int`` overrides the default ramp.
    ``color_type=3`` emits a palette PNG: pixel values are PLTE
    indices and the palette itself is the closed form
    ``entry j = ((j*37) % 256, (j*59) % 256, (j*83) % 256)`` truncated
    to ``palette_size`` entries — so an oracle recomputes the expanded
    RGB arithmetically."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    px = pixel_fn or (lambda i, c: (base + channels * i + c) % 256)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        row = bytearray(
            px(y * width + x, c) for x in range(width) for c in range(channels)
        )
        enc = bytearray(row)
        if filter_type == 1:
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (row[i] - row[i - channels]) & 0xFF
        elif filter_type == 2:
            for i in range(stride):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif filter_type == 3:
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif filter_type == 4:
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                b = prev[i]
                c0 = prev[i - channels] if i >= channels else 0
                p = a + b - c0
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c0)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c0)
                enc[i] = (row[i] - pr) & 0xFF
        raw += bytes([filter_type]) + enc
        prev = row
    plte = b""
    if color_type == 3:
        pal = bytearray()
        for j in range(palette_size):
            pal += bytes(((j * 37) % 256, (j * 59) % 256, (j * 83) % 256))
        plte = chunk(b"PLTE", bytes(pal))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + plte
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def build_gif(width: int, height: int, n_frames: int = 1,
              delay_fn=None, loop: int | None = 0,
              truncate: int = 0, gct: bool = True) -> bytes:
    """A REAL (block-structure-conformant) animated GIF89a: logical
    screen descriptor (+ tiny global color table when ``gct``), a
    NETSCAPE2.0 loop extension when ``loop`` is not None, and per
    frame a Graphic Control Extension carrying
    ``delay_fn(f)`` centiseconds (default ``4 + f``) followed by an
    image descriptor and placeholder LZW sub-blocks (the structure
    parser walks them by length; pixel decode is out of scope).
    ``truncate`` drops trailing bytes to produce the exact truncation
    errors the parser must emit as rows."""
    import struct

    d = delay_fn or (lambda f: 4 + f)
    packed = 0x80 if gct else 0x00      # gct flag, size bits 0 -> 2 entries
    out = bytearray(b"GIF89a" + struct.pack("<HH", width, height)
                    + bytes([packed, 0, 0]))
    if gct:
        out += bytes(6)                 # 2-entry global color table
    if loop is not None:
        out += (b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
                + struct.pack("<H", loop) + b"\x00")
    for f in range(n_frames):
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", d(f)) + b"\x00\x00"
        out += (b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
                + b"\x00")              # no local color table
        out += bytes([2, 3, (f * 7) % 256, (f * 13) % 256,
                      (f * 29) % 256, 0])   # LZW min code + 1 sub-block
    out += b"\x3b"
    return bytes(out[:-truncate]) if truncate else bytes(out)


def build_wav(n_samples: int, rate: int = 8000, base: int = 0,
              step: int = 7, channels: int = 1,
              truncate: int = 0, sample_fn=None) -> bytes:
    """A REAL (RIFF-conformant) PCM WAV whose 16-bit samples are the
    deterministic sawtooth ``((base + step*i) % 4096) - 2048`` for
    per-channel frame i (duplicated across channels) — so an oracle
    can recompute mean / RMS / peak arithmetically without decoding.
    ``truncate`` drops that many trailing bytes from the data chunk
    while keeping the declared chunk size, producing the exact
    'data chunk truncated' error the decoder must emit as a row.
    ``sample_fn(i) -> int`` overrides the default sawtooth (the
    audio_segments oracle plants closed-form quiet/loud frames)."""
    import struct

    fn = sample_fn or (lambda i: ((base + step * i) % 4096) - 2048)
    frames = bytearray()
    for i in range(n_samples):
        s = fn(i)
        frames += struct.pack("<h", s) * channels
    data = bytes(frames)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
    declared = len(data)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", declared)
            + (data[:-truncate] if truncate else data))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _empty_pdf() -> bytes:
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Pages /Kids [] /Count 0 >>\nendobj\n"
        b"2 0 obj\n<< /Type /Catalog /Pages 1 0 R >>\nendobj\n"
        b"trailer\n<< /Size 3 /Root 2 0 R >>\n%%EOF\n"
    )


def _pdf_blocks(rng: random.Random) -> list[list[str]]:
    return [
        [_sent(rng, rng.randint(4, 9)) for _ in range(rng.randint(1, 5))]
        for _ in range(rng.randint(1, 4))
    ]


def _one_page(rng: random.Random, idx: int, genre: str) -> dict:
    host = f"host{rng.randint(0, 49)}.example.com"
    lang = rng.choice(["en", "en", "en", "ko", "es", "de", "zh"])
    if genre == "article":
        html = _article_html(rng, rng.randint(3, 10), rng.randint(15, 40))
    elif genre == "shortarticle":
        html = _article_html(rng, 1, rng.randint(3, 8))
    elif genre == "linkfarm":
        html = _linkfarm_html(rng)
    elif genre == "tableheavy":
        html = _tableheavy_html(rng)
    elif genre == "emptybody":
        html = _empty_html(rng)
    elif genre == "broken":
        html = _broken_html(rng)
    elif genre == "cp949":
        html = _article_html(rng, rng.randint(2, 6), rng.randint(8, 20),
                             charset="euc-kr", lang_words=_KO_WORDS)
        lang = "ko"
    elif genre == "latin1":
        html = _article_html(rng, rng.randint(2, 6), rng.randint(10, 25),
                             charset="iso-8859-1")
        html = html.replace(b"fox", b"f\xf6x")  # force non-ascii byte
    elif genre == "bom":
        html = _article_html(rng, rng.randint(2, 5), rng.randint(10, 25), bom=True)
    elif genre == "giant":
        html = _article_html(rng, 400, 60)
        host = "bighost.example.com"
    elif genre == "tiny":
        html = _article_html(rng, 1, 20)
        host = "bighost.example.com"
    elif genre == "pdf1":
        html = build_pdf(_pdf_blocks(rng), n_pages=1, rng=rng)
    elif genre == "pdfmulti":
        html = build_pdf(_pdf_blocks(rng), n_pages=rng.randint(2, 4), rng=rng)
    elif genre == "pdfflate":
        html = build_pdf(_pdf_blocks(rng), n_pages=1, rng=rng, compress=True)
    elif genre == "pdfempty":
        html = _empty_pdf()
    elif genre == "unsupported":
        html = bytes(rng.randrange(1, 256) for _ in range(rng.randint(16, 128)))
    else:
        raise ValueError(genre)
    url = f"https://{host}/{genre}/{idx}"
    ts = _EPOCH + dt.timedelta(seconds=rng.randint(0, 365 * 24 * 3600))
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": "",  # stale crawl text; the engine never trusts it
        "lang": lang,
    }


# genre mix: mostly articles, with every edge genre represented.
_GENRE_WEIGHTS = [
    ("article", 40), ("shortarticle", 6), ("linkfarm", 8), ("tableheavy", 8),
    ("emptybody", 3), ("broken", 6), ("cp949", 6), ("latin1", 4), ("bom", 3),
    ("tiny", 6), ("pdf1", 6), ("pdfmulti", 3), ("pdfflate", 3),
    ("pdfempty", 1), ("unsupported", 3),
]


# share of rows that re-capture an earlier url at a later warc_ts
# (keep-latest dedup tests), and the period of the multi-MB page on one
# hot host (skew/salting tests)
DUP_FRAC = 0.05
GIANT_EVERY = 400


def gen_pages(n: int, seed: int = 42) -> list[dict]:
    """Generate ``n`` pages rows: the weighted genre mix, a ``giant``
    page every ``GIANT_EVERY``-th row, and after each row a re-capture
    of an earlier url with probability ``DUP_FRAC``."""
    rng = random.Random(seed)
    genres = [g for g, w in _GENRE_WEIGHTS for _ in range(w)]
    rows: list[dict] = []
    for i in range(n):
        if i and i % GIANT_EVERY == 0:
            row = _one_page(rng, i, "giant")
        else:
            row = _one_page(rng, i, rng.choice(genres))
        rows.append(row)
        if rng.random() < DUP_FRAC:
            # duplicate an earlier url with a later capture and new bytes
            victim = rows[rng.randrange(len(rows))]
            dup = _one_page(rng, i, "article")
            dup["url"] = victim["url"]
            dup["warc_ts"] = victim["warc_ts"] + dt.timedelta(days=1)
            dup["lang"] = victim["lang"]
            rows.append(dup)
    return rows


def write_pages_parquet(path: str, n: int, seed: int = 42) -> int:
    """Write the synthetic pages table as parquet (pyarrow, no Spark).
    Returns row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_pages(n, seed=seed)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array(
                [r["warc_ts"].replace(tzinfo=None) for r in rows],
                pa.timestamp("us"),
            ),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)
    return len(rows)

