"""Differential parity tests: C lexer kernel (clex.c) vs the canonical
Python kernel.

The C kernel is a pure accelerator — these tests pin byte-for-byte
equality of every output field (text, links, warnings, analysis) over
golden vectors, the synthetic corpus, and adversarial fuzz covering every
scanner start condition and quirk.  If the kernel cannot build on this
box the module skips (html_lex then runs the Python path everywhere, so
nothing else changes).
"""

from __future__ import annotations

import random
import warnings

import pytest

from mycelium_spark.functions import clexer
from mycelium_spark.functions.lexer import html_lex_py
from mycelium_spark.functions.url import Url
from mycelium_spark.sources import synth

KERNEL = clexer.get()

pytestmark = pytest.mark.skipif(KERNEL is None, reason="C kernel unavailable")


def run_c(html: bytes, base_url: bytes):
    base = None
    if base_url:
        base = Url(base_url)
        if not base.absolute():
            raise ValueError(base_url)
    out = KERNEL.run(html, base)
    assert out is not None, "C kernel reported failure"
    return out


def assert_parity(html, base_url=b"http://fuzz.example/d/p.html"):
    if isinstance(html, str):
        html = html.encode("utf-8", "surrogateescape")
    c = run_c(html, base_url)
    p = html_lex_py(html, base_url)
    text, title, charset, rss, rss2, atom, idx, fol, warn, links = c
    assert text == p.text, (html[:300], text[:200], p.text[:200])
    assert title == p.analysis.title, html[:300]
    assert charset == p.analysis.charset, html[:300]
    assert rss == p.analysis.rss, html[:300]
    assert rss2 == p.analysis.rss2, html[:300]
    assert atom == p.analysis.atom, html[:300]
    assert idx == p.analysis.index, html[:300]
    assert fol == p.analysis.follow, html[:300]
    assert warn == p.warnings, (html[:300], warn, p.warnings)
    assert links == p.links, (html[:300], links[:5], p.links[:5])


def test_golden_and_basics():
    assert_parity(
        "<html><head><title>Hi there</title></head>"
        "<body>my body is great</body></html>",
        b"http://example.com",
    )
    assert_parity("<body>a<div><p><br>b</p></div>c</body>")
    assert_parity("<body>a<span>b</span>c</body>")
    assert_parity("<body>a<script>var x = '<p>hi</p>';</script><p>b</p></body>")
    assert_parity("<body>a<script>x</script>LOST<p>kept</p></body>")
    assert_parity("<body>a<s>gone</script>b<p>c</p></body>")
    assert_parity("<body>a<!-- no <p> break -->b</body>")


def test_synth_corpus_sweep():
    for i in range(3000):
        html = synth.page_html(i, 300000, extra_paras=i % 12)
        assert_parity(html, synth.url_of(i).encode())


def test_no_base_mode():
    for i in range(200):
        assert_parity(synth.page_html(i, 1000, extra_paras=2), b"")


def test_entity_edge_cases():
    cases = [
        "&amp; &AMP; &lt;&gt; &copy;&REG;",
        "&bogus; &x; &:weird.-name; &amp",        # unknown -> empty; no ';'
        "&&amp; &&&#38; a&b c& d;",
        "&#65;&#0065;&#x41;&#X41;",               # uppercase X is NOT hex ref
        "&#0;&#8;&#9;&#10;&#55296;&#57343;",      # controls + surrogates
        "&#888;&#889;&#896;",                     # Cn codepoints < 0x800
        "&#1114111;&#1114112;&#99999999999999999999;",  # max, over, bignum
        "&#xd7ff;&#xd800;&#xe000;",
        "&#2048;&#4096;&#65533;&#65534;",         # >= bitmap limit (callback)
        "&#x1F600;&#x10FFFF;&#x110000;",
        "&amp;#65; &#38;amp;",                    # pass-order sensitivity
        "&#x;&#;&#xg;",                           # empty digit runs
        "x" * 10 + "&" * 50 + ";",
        "&frac12;&Omega;&omega;&spades;",
    ]
    for c in cases:
        assert_parity(f"<body>{c}</body>")
        assert_parity(f'<body><a href="http://h.example/p?q={c}">t</a></body>')


def test_attribute_and_tag_edges():
    cases = [
        '<body><a href=http://x.example/a>unq</a></body>',
        '<body><a href=foo>nmtoken-no-link</a></body>',
        "<body><a href='http://x.example/sq'>sq</a></body>",
        '<body><a href="unterminated>t</a></body>',
        '<body><a href = "http://x.example/ws"  rel = "NOFOLLOW" >t</a></body>',
        '<body><a href="http://x.example/a" rel="me nofollow you">t</a></body>',
        '<body><a hreflang="http://x.example/hl">prefix-match</a></body>',
        '<body><a href="/rel/path">r</a><a href="../up/./x?q#f">d</a></body>',
        '<body><a href="http:///bad">b</a><a href="">empty</a></body>',
        '<body><a href="http://x.example/%7e%2F">pct</a></body>',
        '<body><a href="HTTP://UP.EXAMPLE/A">case</a></body>',
        '<body><a href="http://x.example/a#frag">f</a>t1<br>t2</a>after</body>',
        "<body><a href=\"http://x.example/a\">open<p>break</p>close</a></body>",
        "<body><div attr>bare</div><div a1 a2=v a3='q'>multi</div></body>",
        "<body><p/>net<p / >odd</body>",
        "<body><p\nclass=\"x\">nl-in-tag</p></body>",
        "<body><p =>=first</p><p ==x>eq</p></body>",
        "<body><tag-with-dash x.y:z=1>d</tag-with-dash></body>",
        "<body><p att=v1 att=v2>later-wins</p></body>",
        "<body><a href=<weird>>lt-in-attrval</a></body>",
        "<body><a href=a/b>slashy</a><a href=/>justslash</a></body>",
        "<body><p att='v'x>juxta</p></body>",
        "<body><p att=\r\n>crlf-val</p></body>",
        "<body>< p>space-tag</p><\tq>tab</body>",
        "<body></>stray-etago<>stray-stago<!>bang</body>",
        "<body>a</unknown >b</UNKNOWN\t>c</body>",
        "<body>x<frame src=\"http://f.example/fr\">y</frame>z</body>",
        "<body><iframe src='/if'>i</iframe></body>",
    ]
    for c in cases:
        assert_parity(c)


def test_script_cdata_md_edges():
    cases = [
        "<body><script>a<b</script>c</body>",
        "<body><SCRIPT>x</SCRIPT\t >y<p>z</p></body>",
        "<body><sc>swallowed</ script >after<p>k</p></body>",
        "<body><script>no-close-ever",
        "<body><style>p{}</style>styled</body>",
        "<body>a<![CDATA[ raw ]]>b</body>",
        "<body>a<![cdata[ci]]>b</body>",
        "<body>a<![ INCLUDE [inside]]>b</body>",
        "<body>a<![rubbish]]>b</body>",
        "<body>a]]>b ]] > c</body>",
        "<!DOCTYPE html><body>d</body>",
        "<!DOCTYPE html PUBLIC \"-//W3C//DTD\" 'quoted'><body>q</body>",
        "<!ENTITY % param;><body>p</body>",
        "<!MD 123 name [ds]]]><body>m</body>",
        "<?php echo '<p>'; ?><body>pi</body>",
        "<?unclosed-pi<body>x</body>",
        "<body>a<!-- c1 --><!-- c2 \n-- ><p>b</p></body>",
        "<body><!-- never closed",
        "<body>a<![CDATA[no close on this line\nmore]]>b</body>",
        "<body>a<![CDATA[x]]>mid]]>b</body>",
    ]
    for c in cases:
        assert_parity(c)


def test_meta_link_feed_edges():
    cases = [
        '<head><meta name="ROBOTS" content="noindex, nofollow"></head><body>x</body>',
        '<head><meta name="robots" content="all"></head><body>x</body>',
        '<head><meta name="robots" content="none, index"></head><body>x</body>',
        '<head><meta name="robots" content=", ,index  follow,"></head><body>x</body>',
        '<head><meta http-equiv="Content-Type" content="text/html; charset=utf-8"></head><body>x</body>',
        '<head><meta http-equiv="content-type" content="Charset=X charset= charset=L1 "></head><body>x</body>',
        '<head><meta http-equiv="refresh" content="0; url=http://r.example/t"></head><body>x</body>',
        '<head><meta http-equiv="REFRESH" content="5; URL=/rel"></head><body>x</body>',
        '<head><meta http-equiv="refresh" content="x; url=http://no.example/"></head><body>x</body>',
        '<head><meta http-equiv="refresh" content="3;url=http://no.example/"></head><body>x</body>',
        '<head><meta http-equiv="refresh" content="1; url=http://t.example/a\n"></head><body>x</body>',
        '<head><link rel="alternate" type="application/rss+xml" href="/feed.rss"></head><body>x</body>',
        '<head><link rel="ALTERNATE" type="application/atom+xml" href=" http://a.example/f "></head><body>x</body>',
        '<head><link rel="alternate" type="text/xml" href="bad url"></head><body>x</body>',
        '<head><link rel="alternate" type="other/type" href="/x"></head><body>x</body>',
        '<head><link rel="stylesheet" type="text/xml" href="/x"></head><body>x</body>',
        '<head><link type="text/xml" href="/x"></head><body>x</body>',
        '<body><meta name=robots content=noindex>unquoted-nmtoken-no-map</body>',
    ]
    for c in cases:
        assert_parity(c)


FUZZ_FRAGMENTS = [
    "plain text ", "with spaces\n", "\r", "\r\n", "\n\n", "\t",
    "&amp;", "&#65;", "&#x41;", "&bogus;", "&", "&#", "&#x", ";", "#",
    "<p>", "</p>", "<div>", "</div>", "<span>", "</span>", "<br>",
    "<a href=\"http://f.example/x\">", "<a href='/r'>", "<a href=u>", "</a>",
    "<a rel=\"nofollow\" href=\"http://f.example/n\">", "</A>",
    "<script>", "</script>", "</ script >", "<s>", "<style>", "</style>",
    "<body>", "</body>", "<title>", "</title>", "<head>", "</head>",
    "<!-- c -->", "<!--", "-->", "<![CDATA[", "]]>", "<![", "]", "[",
    "<!DOCTYPE x>", "<!>", "<>", "</>", "<?pi?>", "<?", "<!",
    "<meta name=\"robots\" content=\"noindex\">",
    "<meta http-equiv=\"refresh\" content=\"0; url=http://z.example/\">",
    "<link rel=\"alternate\" type=\"text/xml\" href=\"/f\">",
    "<iframe src=\"/if\">", "</iframe>", "<frame src=x>", "</frame>",
    "<", ">", "\"", "'", "=", "/", "/>", "< ", "<\x00>", "\x00", "\x07",
    "<p a=\"v\">", "<p a=v>", "<p a='v'>", "<p a>", "<p a = >",
    "<p\x11>", "x\x11y", "<p\ra=1>", "é", "\xff\xfe", "日本語",
]


def test_fuzz_differential():
    rng = random.Random(0xC1E7)
    for trial in range(600):
        n = rng.randrange(1, 40)
        doc = "".join(rng.choice(FUZZ_FRAGMENTS) for _ in range(n))
        assert_parity(doc.encode("utf-8", "surrogateescape"))


def test_fuzz_random_bytes():
    rng = random.Random(0xBEEF)
    for trial in range(300):
        n = rng.randrange(0, 400)
        doc = bytes(rng.randrange(256) for _ in range(n))
        assert_parity(doc)


def test_fuzz_mutated_synth():
    rng = random.Random(7)
    for trial in range(300):
        html = bytearray(synth.page_html(trial, 10000, extra_paras=3))
        for _ in range(rng.randrange(1, 8)):
            k = rng.randrange(len(html))
            op = rng.randrange(3)
            if op == 0:
                html[k] = rng.randrange(256)
            elif op == 1:
                del html[k]
            else:
                html.insert(k, rng.randrange(256))
        assert_parity(bytes(html))


def test_kernel_used_by_default(monkeypatch):
    """html_lex routes through the C kernel when it is loaded."""
    from mycelium_spark.functions import lexer as lexmod

    calls = []
    orig = KERNEL.run

    def spy(html, base):
        calls.append(1)
        return orig(html, base)

    monkeypatch.setattr(KERNEL, "run", spy)
    r = lexmod.html_lex(b"<body>x</body>", b"http://k.example/")
    assert r.text == b"\nx"
    assert calls, "C kernel was not used by html_lex"


def test_fallback_warns(monkeypatch):
    """A kernel that cannot be built is reported once, with its cause, and
    html_lex then matches the Python kernel.  The loaded kernel object is
    restored afterwards, not rebuilt: rebuilding would re-run clex_init
    and repoint the C globals."""
    from mycelium_spark.functions.lexer import html_lex

    monkeypatch.setattr(clexer, "_compile", lambda src: None)
    monkeypatch.setattr(clexer, "_TRIED", False)
    monkeypatch.setattr(clexer, "_KERNEL", None)
    with pytest.warns(RuntimeWarning, match="could not compile clex.c"):
        assert clexer.get() is None
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert clexer.get() is None  # once per process
    for i in range(20):
        html = synth.page_html(i, 1000, extra_paras=i % 4)
        base = synth.url_of(i).encode()
        got, want = html_lex(html, base), html_lex_py(html, base)
        assert (got.text, got.links, got.warnings, got.analysis) == (
            want.text, want.links, want.warnings, want.analysis
        )
