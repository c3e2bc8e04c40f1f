"""Unit tests for the oracle HTML extractor (SURVEY.md §5.2.2-3)."""

import hashlib
import random
import re
import time

from ocr_spark.data.synth import gen_pages
from ocr_spark.extractor import core
from tests.html_oracle import BlockParser, collapse


def ex(html: bytes):
    return core.extract_html(html)


def test_article_strips_nav_sidebar_footer():
    html = (
        b'<html><head><meta charset="utf-8"><title>T</title>'
        b"<script>nope()</script><style>p{}</style></head><body>"
        b'<nav><ul><li><a href="/a">home</a></li><li><a href="/b">about us</a></li></ul></nav>'
        b"<article><h1>real headline here</h1>"
        b"<p>" + b"word " * 30 + b"</p>"
        b"<p>" + b"more " * 25 + b"</p></article>"
        b'<aside><ul><li><a href="/x">related thing one</a></li></ul></aside>'
        b'<footer><p><a href="/p">privacy</a> <a href="/t">terms</a></p></footer>'
        b"</body></html>"
    )
    out = ex(html)
    assert out["status"] == "ok"
    assert "home" not in out["text"]
    assert "privacy" not in out["text"]
    assert "related thing" not in out["text"]
    assert "nope()" not in out["text"]
    assert out["text"].startswith("real headline here\n")
    assert out["text"].count("word") == 30
    assert out["n_blocks"] == 3


def test_linkfarm_extracts_empty():
    links = b"".join(
        b'<p><a href="/%d">some link text here</a></p>' % i for i in range(30)
    )
    out = ex(b"<html><body>" + links + b"</body></html>")
    assert out["status"] == "ok"
    assert out["text"] == ""
    assert out["n_blocks"] == 0


def test_empty_body():
    out = ex(b"<html><body>  \n\t </body></html>")
    assert out["text"] == ""
    assert out["status"] == "ok"


def test_whitespace_normalization_policy():
    html = ("<html><body><article><p>  a ​  b\t\tc\n d  " + "x " * 20
            + "</p></article></body></html>").encode()
    out = ex(html)
    assert out["text"].startswith("a b c d ")
    assert "  " not in out["text"]
    assert not out["text"].endswith((" ", "\n"))


def test_nfc_normalization():
    # e + combining acute -> precomposed
    html = ("<html><body><article><p>café " + "w " * 20
            + "</p></article></body></html>").encode()
    out = ex(html)
    assert "café" in out["text"]
    assert "́" not in out["text"]


def test_charset_bom_beats_meta():
    body = '<html><head><meta charset="euc-kr"></head><body></body></html>'
    payload = b"\xef\xbb\xbf" + body.encode("utf-8")
    assert core.sniff_charset(payload) == "utf-8-sig"


def test_charset_meta_cp949():
    body = ('<html><head><meta charset="euc-kr"></head><body><article><p>'
            + "사업자 등록증 " * 10 + "</p></article></body></html>")
    payload = body.encode("cp949")
    assert core.sniff_charset(payload) == "cp949"
    out = ex(payload)
    assert "사업자 등록증" in out["text"]


def test_charset_latin1_fallback():
    payload = (b"<html><body><article><p>f\xf6x j\xfcmps "
               + b"w " * 20 + b"</p></article></body></html>")
    assert core.sniff_charset(payload) == "latin-1"
    out = ex(payload)
    assert "föx" in out["text"]


def test_broken_markup_no_crash_deterministic():
    html = b"<html><body><div><p>" + b"alpha " * 20 + b"<p>" + b"beta " * 20 + b"<table><tr><td>gamma</body>"
    a, b = ex(html), ex(html)
    assert a == b
    assert a["status"] == "ok"
    assert "alpha" in a["text"] and "beta" in a["text"]


def test_spans_point_into_source_bytes():
    rows = gen_pages(200, seed=7)
    checked = 0
    for r in rows:
        if core.sniff_doc_kind(r["html"]) != "html":
            continue
        out = core.extract_html(r["html"])
        for (s, e, kind) in out["spans"]:
            assert 0 <= s <= e <= len(r["html"])
            # normalized slice text must equal the block's contribution
            raw = r["html"][s:e]
            assert len(raw) > 0
            checked += 1
    assert checked > 50


def test_span_bytes_roundtrip_utf8():
    html = ("<html><body><article><p>한국어 콘텐츠 " + "y " * 20
            + "</p></article></body></html>").encode("utf-8")
    out = ex(html)
    (s, e, kind) = out["spans"][0]
    sliced = html[s:e].decode("utf-8")
    assert core._collapse(sliced) == out["text"]


def test_oracle_pure_function_stability():
    rows = gen_pages(150, seed=42)
    digest = lambda: hashlib.sha256(
        "\x00".join(core.extract_bytes(r["html"])["text"] for r in rows).encode()
    ).hexdigest()
    assert digest() == digest()


def test_semantic_article_keeps_short_blocks():
    html = (b"<html><body><article><p>short but real content</p></article>"
            b"</body></html>")
    out = ex(html)
    assert out["text"] == "short but real content"


def _blocks_with(parser_cls, decoded):
    p = parser_cls()
    p.feed(decoded)
    return [(b.text(), b.start, b.end, b.kind, b.anchor_chars, b.total_chars,
             b.in_content_ancestor, b.in_boiler_ancestor) for b in p.blocks]


def test_fast_parser_matches_stdlib_on_corpus():
    """The production regex lexer must produce identical block streams
    (text, offsets, stats, ancestry) to the stdlib html.parser-driven
    reference on every synthesizer genre."""
    rows = gen_pages(600, seed=321)
    checked = 0
    for r in rows:
        if core.sniff_doc_kind(r["html"]) != "html":
            continue
        decoded, _ = core.decode_html(r["html"])
        assert _blocks_with(BlockParser, decoded) == \
            _blocks_with(core._FastBlockParser, decoded), r["url"]
        checked += 1
    assert checked > 300


def test_fast_parser_matches_stdlib_adversarial():
    cases = [
        # comments, doctype, PI, CDATA-ish declaration
        "<!DOCTYPE html><!-- c --><?php x ?><html><body><p>a &amp; b "
        "&#65;&lt;ok&gt; " + "w " * 20 + "</p></body></html>",
        # script/style rawtext with fake tags and entities inside
        "<html><body><script>var s = '<p>not a tag &amp;</p>';</script>"
        "<style>p::before{content:'<div>'}</style><article><p>"
        + "x " * 20 + "</p></article></body></html>",
        # unterminated script (rest swallowed as rawtext)
        "<html><body><p>" + "kept " * 20 + "</p><script>var y = 1;",
        # lone '<' and '<3' literals, self-closing br, truncated tag at EOF
        "<html><body><article><p>a < b and <3 hearts " + "y " * 20
        + "<br/>more</p></article></body></html>",
        "<html><body><p>" + "z " * 20 + "</p><div class='x",
        # quoted '>' inside attribute value
        '<html><body><article data-x="a>b"><p>' + "q " * 20
        + "</p></article></body></html>",
        # bogus end tags and stray brackets
        "<html><body><p>" + "m " * 20 + "</><//><p>" + "n " * 20 + "</body>",
        # entities split across element boundaries, nbsp handling
        "<html><body><article><p>caf&eacute;&nbsp;au&nbsp;lait "
        + "k " * 20 + "</p></article></body></html>",
        # stray quote inside an UNQUOTED attribute value (round-2
        # ADVICE: the old region regex leaked the rest of the document
        # as one data blob here)
        '<html><body><div class=a"b><p>' + "w " * 20 + "</p></body></html>",
        # ... with a later mate quote (old regex silently swallowed the
        # intervening content into the tag)
        '<html><body><div class=a"b>lead</div><p>' + "w " * 20
        + '</p><div x="mate">tail</div></body></html>',
        # unterminated quoted attribute with a later '>': stdlib emits
        # the partial tag through the '>' as data, then keeps parsing
        '<html><body><p>t</p><div class="a> <p>' + "after " * 10
        + "</p></body></html>",
        # bare-value '/' before '>' is NOT a self-closing tag (article
        # stays open -> content ancestry applies to the <p>)
        "<html><body><article a=1/><p>" + "k " * 20
        + "</p></article></body></html>",
        # ... but these are
        "<html><body><br/><br //><div a='1'/><p>" + "m " * 18
        + "</p></body></html>",
        # quote where an attribute name is expected
        '<html><body><div "x"><p>' + "n " * 18 + "</p></body></html>",
        # end tag variants: leading space, attrs in end tag, </>
        "<html><body><p>" + "e " * 18 + "</ p><p>x</p></div attr=y></>",
        # '</script foo>' does NOT close the rawtext section
        "<html><body><script>a</script foo>b</script><p>" + "s " * 18
        + "</p></body></html>",
        # comment closers: '--  >' closes, '<!-->' is unterminated
        "<html><body><!-- c --  ><p>" + "c " * 18 + "</p><!--></body></html>",
        # unterminated comment with a later '>': emitted as data
        "<html><body><p>" + "d " * 18 + "</p><!-- open <span>tail</span>",
        # incomplete tags at EOF: mid-name, mid-attr, after '='
        "<html><body><p>" + "f " * 18 + "</p><di",
        "<html><body><p>" + "g " * 18 + "</p><div a",
        "<html><body><p>" + "h " * 18 + "</p><div a=",
        "<html><body><p>" + "i " * 18 + '</p><div a="x',
        "<html><body><p>" + "j " * 18 + "</p></div",
        # quoted attributes, the token regex's second region form, and
        # the shapes next to it that must take the exact path
        '<html><body><article><div a="x>y"><p>' + "q " * 18
        + "</p></div></article></body></html>",
        "<html><body><div a='x' b=\"y\"><p>" + "q " * 18 + "</p></div>",
        '<html><body><div a = "x"><p>' + "q " * 18 + "</p></div>",
        '<html><body><div a="x"b="y"><p>' + "q " * 18 + "</p></div>",
        "<html><body><div a==b><p>" + "q " * 18 + "</p></div>",
        '<html><body><div ="x"><p>' + "q " * 18 + "</p></div>",
        "<html><body><article a=b/><p>" + "q " * 18 + "</p></article>",
        '<html><body><div a="x"/><p>' + "q " * 18 + '</p><img a="1"/>r',
        # non-ASCII whitespace inside tags: part of the tag name before
        # any ASCII whitespace, attribute separators after it
        "<html><body><div\xa0a><p>" + "u " * 18 + "</p></div\xa0>",
        "<html><body><div a\x0bb='1'\x1c c\u2003d=\"2\"><p>" + "u " * 18
        + "</p><p\x0b>v</p\x1c></div>",
        # NUL after a tag name: html.parser emits the partial tag as text
        "<html><body><p>" + "v " * 18 + "<div\x00 x>w</p><a&amp;\x00 b>",
        # text mixing ASCII with NBSP, ZWSP and combining marks
        "<html><body><article><p>caf\u0065\u0301\xa0au\u200blait "
        + "k\xa0" * 18 + "</p><p>plain ascii</p><p>\u200b\ufeff</p>"
        "<p> \xa0\u3000 </p></article></body></html>",
    ]
    for html in cases:
        a = _blocks_with(BlockParser, html)
        b = _blocks_with(core._FastBlockParser, html)
        assert a == b, (html[:60], a, b)


def test_fast_parser_matches_stdlib_fuzz():
    """Seeded markup-soup fuzz: the fast lexer must agree with stdlib
    on arbitrary tag-fragment interleavings (the crawl-HTML reality),
    wherever stdlib itself does not raise."""
    atoms = ['<div', '<p', '<a', '<br', '<script', '</div>', '</p>',
             '</script>', ' class=', ' href=', '"', "'", 'a"b', "x'y",
             '=', '/', '>', '/>', ' ', 'word ', '&amp;', '&#65;', '&',
             '<!--', '-->', '<!', '<?', '<', 'text content here ', '</',
             '\n', '<nav>', '</nav>', '<article>', '</article>', '\t',
             '<!doctype html>', '<![CDATA[ x ]]>', '<!-->', '</ p>',
             '</script foo>', '<div a=1/>', '<div "x">', '</>', ';']
    # quoted-attribute shapes, non-ASCII whitespace and NUL inside tags,
    # and text that crosses the ASCII boundary of _collapse
    quoted = [' a="x>y"', " a='x' b=\"y\"", ' a = "x"', ' a="x"b="y"',
              ' a==b', ' ="x"', ' a=b/', ' a="x"/', '<img a="1"/>',
              '\xa0', '\x0b', '\x1c', '\u2003', '\x00', 'caf\u0065\u0301 ',
              'x\u200by ', '\ufeff', '\u3000']
    for pool in (atoms, atoms + quoted):
        rng = random.Random(20260817)
        checked = 0
        for _ in range(1500):
            s = "".join(rng.choice(pool) for _ in range(rng.randint(2, 30)))
            try:
                a = _blocks_with(BlockParser, s)
            except Exception:
                continue  # stdlib raising (e.g. unknown marked section) is
                # out of contract; the fast parser never raises
            b = _blocks_with(core._FastBlockParser, s)
            assert a == b, (repr(s), a, b)
            checked += 1
        assert checked > 1000


# Shapes on which the lexer used to take quadratic time: 55 s, 10.7 s,
# 0.79 s, 1.5 s and 0.93 s for one 32-72 KB page, single process.
HOSTILE = {
    "open_tags": lambda k: "<a " * k,
    "open_quotes": lambda k: '<a "' * k,
    "open_eq": lambda k: "<a=" * k,
    "open_comments": lambda k: "<!-- " * k,
    "unclosed_nesting": lambda k: "<div>" * k + "</p>" * k,
}
# more constructs whose closer search is shared by every '<' of a run
HOSTILE.update((u, lambda k, u=u: u * k) for u in (
    '<a x="', "</a ", "<!", "<![CDATA[", "<?", "<a\x00", "<", "<a/"))


def test_hostile_markup_is_linear():
    for name, make in HOSTILE.items():
        k = 1
        while len(make(k)) < 64 * 1024:
            k *= 2
        for tail in ("", ">"):
            payload = (make(k) + tail).encode()
            t = time.process_time()
            out = core.extract_bytes(payload)
            took = time.process_time() - t
            assert out["status"] == "ok", (name, out["error_msg"])
            assert took < 1.0, (name, tail, took)


def test_hostile_markup_matches_stdlib():
    for name, make in HOSTILE.items():
        for tail in ("", ">", "x>y"):
            html = make(50) + tail
            assert _blocks_with(BlockParser, html) == \
                _blocks_with(core._FastBlockParser, html), (name, tail)


def test_common_tags_take_the_token_regex(monkeypatch):
    """_step is the exact path for rare constructs.  On the synthesizer
    corpus no start tag with plain or simply quoted attributes and no
    well-formed end tag may reach it."""
    simple = re.compile(
        r"""<[a-zA-Z][a-zA-Z0-9]*(?:\s+[a-zA-Z_:][-\w:.]*"""
        r"""(?:\s*=\s*(?:"[^">]*"|'[^'>]*'|[^\s"'=<>`/]+))?)*\s*>"""
        r"""|</[a-zA-Z][a-zA-Z0-9]*\s*>""")
    taken = []
    step = core._FastBlockParser._step

    def spy(self, data, lt):
        taken.append(data[lt:data.find(">", lt) + 1])
        return step(self, data, lt)

    monkeypatch.setattr(core._FastBlockParser, "_step", spy)
    n_simple = 0
    for r in gen_pages(600, seed=321):
        if core.sniff_doc_kind(r["html"]) != "html":
            continue
        decoded, _ = core.decode_html(r["html"])
        n_simple += sum(1 for _ in simple.finditer(decoded))
        core._FastBlockParser().feed(decoded)
    assert n_simple > 20000
    assert taken  # the doctype still takes it
    assert [t for t in taken if simple.fullmatch(t)] == []


def test_token_regex_agrees_with_exact_path():
    """Every tag _TOKEN_RE takes is the tag _step would have read at the
    same '<', with the same end; an end tag is html.parser's endtagfind."""
    endtagfind = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
    rng = random.Random(11)
    atoms = ['<a', '<div', '</p>', '</ a>', '<br', ' ', '\t', '\xa0',
             '\x0b', '\x00', 'x', '=', '"', "'", '/', '>', '/>', ' x=',
             ' y="1"', " z='2'", '"x>y"', '<']
    taken = 0
    for _ in range(20000):
        s = "".join(rng.choice(atoms) for _ in range(rng.randint(1, 20)))
        last = s.rfind(">") + 1
        for lt in (i for i, ch in enumerate(s) if ch == "<"):
            m = core._TOKEN_RE.match(s, lt, last)
            if not m or not m.lastindex:
                continue
            taken += 1
            if m.lastindex == 2:
                em = endtagfind.match(s, lt)
                assert em and em.end() == m.end() and em[1] == m[2], repr(s)
                continue
            p = core._FastBlockParser()
            p._data = s
            code, name, end = p._step(s, lt)
            assert (code, name, end) == (
                core._START_ACT.get(m[1].lower(), 0), m[1].lower(), m.end()
            ), (repr(s), lt)
    assert taken > 5000


def test_region_walk_matches_attrs_regex():
    """_region_end (lead, then _ATTR_RE while it matches, memoized by
    boundary) ends where html.parser's whole locatestarttagend_tolerant
    attribute region does, from every offset."""
    full = re.compile(r"(?:[\s/]*(?:" + core._ATTR_RE.pattern + r")*)?\s*",
                      re.VERBOSE)
    rng = random.Random(3)
    atoms = ['a', 'b', '=', '"', "'", ' ', '/', '>', '<', '\t', '\xa0',
             '\x00', 'x=', '="', "='", '/>', '\n']
    for _ in range(5000):
        s = "".join(rng.choice(atoms) for _ in range(rng.randint(1, 40)))
        p = core._FastBlockParser()
        p._data = s
        for off in range(len(s) + 1):
            assert p._region_end(off) == full.match(s, off).end(), (repr(s), off)


def test_collapse_matches_reference():
    """The ASCII shortcut and the NFC path of _collapse both equal the
    NFC + regex reference, across the ASCII / non-ASCII boundary."""
    rng = random.Random(17)
    mixed = ["a", "Z", "0", ".", " ", "\t", "\n", "\r", "\x0b", "\x0c",
             "\x1c", "\x1f", "\x85", "\xa0", "\u2000", "\u2003", "\u3000",
             "\u200b", "\u200c", "\ufeff", "e\u0301", "\u0301", "\u212b",
             "\u00df", "\ud55c"]
    ascii_chars = [chr(c) for c in range(128)]
    for pool in (mixed, ascii_chars):
        for _ in range(20000):
            s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 16)))
            assert core._collapse(s) == collapse(s), repr(s)


def test_profile_thresholds_change_classification():
    """O8 wiring: the profile's min_words / max_link_density actually
    reach the classifier; defaults are unchanged (byte-equality holds)."""
    # a lone 10-word <div> block: dropped at default min_words=16
    html = (b"<html><body><div>" + b"ten short words here now " * 2
            + b"</div></body></html>")
    assert ex(html)["text"] == ""
    relaxed = core.extract_html(html, profile={"min_words": 5})
    assert relaxed["text"].startswith("ten short words")
    # link density ~0.3: kept at default 1/3 cap, dropped at a strict 0.2
    linky = (b"<html><body><article><p>"
             b'<a href="/x">six linked words are right here</a> '
             + b"plain filler word " * 5 + b"</p></article></body></html>")
    assert "six linked words" in ex(linky)["text"]
    strict = core.extract_html(linky, profile={"max_link_density": 0.2})
    assert strict["text"] == ""
    # None / empty profile == defaults, byte-identical
    assert core.extract_html(html, profile=None) == ex(html)
    assert core.extract_html(html, profile={}) == ex(html)


def test_profiles_resolved_per_lang_in_spark_kernel(spark):
    """extract_pages resolves the per-row profile by lang (broadcast-dim
    pattern): same payload, different lang -> different classification."""
    from ocr_spark.operators.extract import extract_pages

    payload = bytearray(b"<html><body><div>"
                        b"ten short words here now ten short words here now"
                        b"</div></body></html>")
    df = spark.createDataFrame(
        [("a", "ko", payload), ("b", "en", payload), ("c", None, payload)],
        "url string, lang string, html binary")
    out = extract_pages(
        df, passthrough=("url", "lang"), with_spans=False,
        profiles={"KO": {"min_words": 5}, "default": {}},
        profile_col="lang",
    )
    got = {r.url: r.text for r in out.collect()}
    assert got["a"].startswith("ten short words")   # ko profile (key lowercased)
    assert got["b"] == "" and got["c"] == ""        # default thresholds


def test_link_dense_block_dropped_even_in_article():
    html = (b"<html><body><article>"
            b"<p>" + b"content " * 20 + b"</p>"
            b'<p><a href="/z">all of this text is a link and nothing else</a></p>'
            b"</article></body></html>")
    out = ex(html)
    assert "all of this text is a link" not in out["text"]


# -- structured head/landmark metadata (extract_meta) -------------------------

def test_extract_meta_fields_and_unescaping():
    from ocr_spark.extractor.core import extract_meta

    html = (b"<html><head>"
            b"<title>  My   Page &amp; Stuff </title>"
            b'<meta name="Description" content="A &lt;fine&gt; page">'
            b'<meta property="og:title" content="OG title">'
            b'<link rel="Canonical" href=" https://c.example.com/x ">'
            b'<meta name="description" content="second ignored">'
            b"</head><body><h1>First <b>Heading</b></h1>"
            b"<h1>second ignored</h1></body></html>")
    m = extract_meta(html)
    assert m == {
        "title": "My Page & Stuff",          # collapsed + entity-unescaped
        "description": "A <fine> page",       # first wins, unescaped
        "canonical": "https://c.example.com/x",
        "og_title": "OG title",
        "h1": "First Heading",                # inline children included
    }


def test_extract_meta_absent_and_broken():
    from ocr_spark.extractor.core import extract_meta

    assert all(v is None for v in
               extract_meta(b"<html><body><p>x</p></body></html>").values())
    assert all(v is None for v in extract_meta(b"").values())
    # unclosed / truncated head must not raise
    out = extract_meta(b"<html><head><title>partial")
    assert out["title"] in (None, "partial")


class TestJsonLd:
    def _run(self, html: str):
        from ocr_spark.extractor.core import extract_jsonld

        return extract_jsonld(html.encode())

    def test_article_and_graph_and_order(self):
        out = self._run(
            '<html><head>'
            '<script type="application/ld+json">'
            '{"@type": "Article", "headline": "a b", "wordCount": 7}'
            '</script>'
            '<script type="application/ld+json">'
            '{"@graph": [{"@type": "Person", "name": "p"}, 3,'
            ' {"@type": ["Organization", "Thing"], "name": "o"}]}'
            '</script></head><body></body></html>')
        assert out == [
            {"script_idx": 0, "entity_idx": 0, "etype": "Article",
             "name": "a b", "word_count": 7, "status": "ok"},
            # the bare 3 in @graph is skipped WITHOUT consuming an index
            {"script_idx": 1, "entity_idx": 0, "etype": "Person",
             "name": "p", "word_count": None, "status": "ok"},
            # list-valued @type takes the first element
            {"script_idx": 1, "entity_idx": 1, "etype": "Organization",
             "name": "o", "word_count": None, "status": "ok"},
        ]

    def test_top_level_array_and_name_fallback(self):
        out = self._run(
            '<script type="application/ld+json">'
            '[{"@type": "A", "headline": "h"},'
            ' {"@type": "B", "name": "n", "headline": "ignored"}]'
            '</script>')
        assert [(e["entity_idx"], e["name"]) for e in out] == \
            [(0, "h"), (1, "n")]

    def test_parse_error_is_a_row_and_boolean_wordcount_rejected(self):
        out = self._run(
            '<script type="application/ld+json">{broken</script>'
            '<script type="application/ld+json">'
            '{"@type": "X", "wordCount": true}</script>')
        assert out[0]["status"] == "parse_error"
        assert out[0]["script_idx"] == 0
        assert out[1] == {"script_idx": 1, "entity_idx": 0, "etype": "X",
                          "name": None, "word_count": None, "status": "ok"}

    def test_non_ldjson_scripts_ignored(self):
        out = self._run(
            '<script>var x = {"@type": "No"};</script>'
            '<script type="text/javascript">{"@type": "No"}</script>'
            '<script type=" APPLICATION/LD+JSON ">'
            '{"@type": "Yes", "name": "y"}</script>')
        assert [e["etype"] for e in out] == ["Yes"]

    def test_undecodable_payload_no_rows(self):
        from ocr_spark.extractor.core import extract_jsonld

        assert extract_jsonld(b"\xff\xfe\x00 government") in ([], )


# -- microdata ---------------------------------------------------------------


def test_microdata_value_sources_and_nesting():
    from ocr_spark.extractor.core import extract_microdata

    html = (b'<html><body>'
            b'<div itemscope itemtype="https://schema.org/Product">'
            b'<span itemprop="name">Acme  <b>Anvil</b></span>'
            b'<meta itemprop="sku" content="sku-7">'
            b'<a itemprop="url" href="https://m.ex/p7">x</a>'
            b'<time itemprop="released" datetime="2026-01-01">Jan 1</time>'
            b'<div itemprop="offers" itemscope '
            b'itemtype="https://schema.org/Offer">'
            b'<meta itemprop="price" content="7.00"></div>'
            b'</div></body></html>')
    rows = extract_microdata(html)
    by_prop = {(r["item_idx"], r["prop"]): r for r in rows}
    # text content is whitespace-normalized and includes descendants
    assert by_prop[(0, "name")]["value"] == "Acme Anvil"
    assert by_prop[(0, "sku")]["value"] == "sku-7"
    assert by_prop[(0, "url")]["value"] == "https://m.ex/p7"
    assert by_prop[(0, "released")]["value"] == "2026-01-01"
    # nested item: reference row on the parent + own rows
    assert by_prop[(0, "offers")]["value"] == "#item:1"
    assert by_prop[(1, "price")]["value"] == "7.00"
    assert by_prop[(1, "price")]["item_type"] == "https://schema.org/Offer"
    assert all(r["status"] == "ok" for r in rows)


def test_microdata_orphan_multiname_and_robustness():
    from ocr_spark.extractor.core import extract_microdata

    # orphan itemprop (no enclosing itemscope) -> error ROW
    rows = extract_microdata(b'<p itemprop="stray">s</p>')
    assert rows == [{"item_idx": None, "item_type": None, "prop": "stray",
                     "value": "s", "status": "orphan_prop"}]
    # space-separated itemprop emits one row per name
    rows = extract_microdata(
        b'<div itemscope itemtype="T"><b itemprop="a b">v</b></div>')
    assert [(r["prop"], r["value"]) for r in rows] == [("a", "v"), ("b", "v")]
    # unbalanced markup: the open capture still flushes
    rows = extract_microdata(
        b'<div itemscope itemtype="T"><span itemprop="n">tail')
    assert rows == [{"item_idx": 0, "item_type": "T", "prop": "n",
                     "value": "tail", "status": "ok"}]
    # pages without microdata (and empty payloads) -> no rows
    assert extract_microdata(b"<html><p>plain</p></html>") == []
    assert extract_microdata(b"") == []


def test_microdata_scope_ends_with_element():
    from ocr_spark.extractor.core import extract_microdata

    # a prop AFTER the itemscope div closes is an orphan, not item 0's
    html = (b'<div itemscope itemtype="T"><i itemprop="a">1</i></div>'
            b'<i itemprop="late">2</i>')
    rows = extract_microdata(html)
    assert [(r["item_idx"], r["prop"], r["status"]) for r in rows] == [
        (0, "a", "ok"), (None, "late", "orphan_prop")]


def test_http_equiv_directives():
    from ocr_spark.extractor.core import extract_http_equiv

    out = extract_http_equiv(
        b'<html lang="EN-us"><head>'
        b'<meta http-equiv="refresh" content="5; URL=\'https://x.y/z\'">'
        b'<meta http-equiv="Content-Language" content="fr, de">'
        b'</head></html>')
    assert out == {"html_lang": "en-us", "content_language": "fr",
                   "refresh_delay": 5, "refresh_url": "https://x.y/z"}
    # delay-only refresh: parsed, no target; first parseable wins
    out = extract_http_equiv(
        b'<meta http-equiv="refresh" content="0">'
        b'<meta http-equiv="refresh" content="9;url=https://late.x">')
    assert out["refresh_delay"] == 0 and out["refresh_url"] is None
    # unparseable content ignored (a later valid one wins)
    out = extract_http_equiv(
        b'<meta http-equiv="refresh" content="garbage">'
        b'<meta http-equiv="refresh" content="2;url=/next">')
    assert out["refresh_delay"] == 2 and out["refresh_url"] == "/next"
    # absent directives -> all None (also for undecodable/empty)
    assert extract_http_equiv(b"<html></html>") == {
        "html_lang": None, "content_language": None,
        "refresh_delay": None, "refresh_url": None}
