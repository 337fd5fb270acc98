"""Incremental near-dup gate: persistent MinHash band index over waves.

Fixture strategy: run a normal 2-wave crawl to learn which url lands in
which wave, then rebuild the page corpus with a wave-1 url's html/text
replaced by a wave-0 url's content and re-crawl with the gate on — the
copied article must be flagged (scope=prior_wave) and, in drop mode,
withheld from the articles sink while seen/frontier semantics stay
untouched.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawl import synth, wave
from newscrawl.storage import ManifestParquetCatalog

CFG = synth.SynthConfig(n_seed=2, n_total=16, n_waves=2)


@pytest.fixture(scope="module")
def wave_urls(spark, tmp_path_factory):
    """(wave0_url, wave1_url, doctored_pages): the baseline crawl's wave
    membership plus a corpus where wave1_url serves wave0_url's page."""
    cat = ManifestParquetCatalog(str(tmp_path_factory.mktemp("base")))
    wave.run_crawl(spark, cat, CFG, n_waves=2)
    arts = wave.read_articles(spark, cat).select("url", "wave_id").collect()
    w0 = sorted(r.url for r in arts if r.wave_id == "w0000")
    w1 = sorted(r.url for r in arts if r.wave_id == "w0001")
    assert w0 and w1, "need articles in both waves"
    src_url, dup_url = w0[0], w1[0]
    pages = synth.build_pages_df(spark, CFG, num_partitions=4)
    donor = pages.filter(F.col("url") == src_url).select(
        F.col("html").alias("_h"), F.col("text").alias("_t")
    )
    doctored = (
        pages.crossJoin(F.broadcast(donor))
        .withColumn(
            "html",
            F.when(F.col("url") == dup_url, F.col("_h")).otherwise(
                F.col("html")
            ),
        )
        .withColumn(
            "text",
            F.when(F.col("url") == dup_url, F.col("_t")).otherwise(
                F.col("text")
            ),
        )
        .drop("_h", "_t")
    )
    return src_url, dup_url, doctored


def test_flag_mode_records_prior_wave_match(spark, tmp_path, wave_urls):
    src_url, dup_url, pages = wave_urls
    cat = ManifestParquetCatalog(str(tmp_path / "flag"))
    wave.run_crawl(spark, cat, CFG, n_waves=2, pages=pages, dedup_gate="flag")
    flags = {
        r.url: r for r in wave.read_near_dup_flags(spark, cat).collect()
    }
    assert dup_url in flags
    assert flags[dup_url].scope == "prior_wave"
    assert flags[dup_url].matched_url == src_url
    assert flags[dup_url].n_band_hits >= 1
    # flag mode keeps the article in the sink
    urls = {r.url for r in wave.read_articles(spark, cat).collect()}
    assert dup_url in urls


def test_drop_mode_withholds_article_but_not_seen(spark, tmp_path, wave_urls):
    src_url, dup_url, pages = wave_urls
    cat = ManifestParquetCatalog(str(tmp_path / "drop"))
    wave.run_crawl(spark, cat, CFG, n_waves=2, pages=pages, dedup_gate="drop")
    urls = {r.url for r in wave.read_articles(spark, cat).collect()}
    assert dup_url not in urls and src_url in urls
    # the url is still SEEN (crawled) — only the article sink dedups
    seen = {r.url for r in wave.read_seen(spark, cat).collect()}
    assert dup_url in seen
    # the index holds canonical docs only: no bands for the dropped url
    from newscrawl.schema import MINHASH_BANDS

    bands = cat.read(spark, "minhash_bands", MINHASH_BANDS)
    assert bands.filter(F.col("url") == dup_url).count() == 0
    assert bands.filter(F.col("url") == src_url).count() == 4


def test_drop_mode_is_flag_mode_minus_flagged_urls(spark, tmp_path, wave_urls):
    """Both gate modes write articles in the same fused job: over two
    waves of the doctored corpus, drop mode's articles are flag mode's
    minus the near_dup_flags urls, and the gate and crawl state tables
    are equal between the modes."""
    from newscrawl.schema import FRONTIER, MINHASH_BANDS

    _src, dup_url, pages = wave_urls
    cats = {}
    for mode in ("flag", "drop"):
        cats[mode] = ManifestParquetCatalog(str(tmp_path / mode))
        wave.run_crawl(spark, cats[mode], CFG, n_waves=2, pages=pages, dedup_gate=mode)

    def rows(df):
        return sorted((r[0], repr(r)) for r in df.collect())

    def state(c):
        return {
            "near_dup_flags": rows(wave.read_near_dup_flags(spark, c)),
            "minhash_bands": rows(c.read(spark, "minhash_bands", MINHASH_BANDS)),
            "seen": rows(wave.read_seen(spark, c)),
            "frontier": rows(c.read(spark, "frontier", FRONTIER)),
        }

    flag = state(cats["flag"])
    assert flag == state(cats["drop"])
    flagged = {url for url, _r in flag["near_dup_flags"]}
    assert dup_url in flagged
    flag_arts = rows(wave.read_articles(spark, cats["flag"]))
    assert rows(wave.read_articles(spark, cats["drop"])) == [
        a for a in flag_arts if a[0] not in flagged
    ]


def test_gate_off_is_unchanged_and_gate_without_dups_is_noop(
    spark, tmp_path, wave_urls
):
    """On the UNDOCTORED corpus the gate flags nothing and the articles
    table is byte-identical with the gate on and off."""
    cat_off = ManifestParquetCatalog(str(tmp_path / "off"))
    wave.run_crawl(spark, cat_off, CFG, n_waves=2)
    cat_on = ManifestParquetCatalog(str(tmp_path / "on"))
    wave.run_crawl(spark, cat_on, CFG, n_waves=2, dedup_gate="drop")
    get = lambda c: sorted(
        (r.url, r.wave_id, r.text)
        for r in wave.read_articles(spark, c).collect()
    )
    assert get(cat_off) == get(cat_on)
    assert wave.read_near_dup_flags(spark, cat_on).count() == 0


def test_same_wave_first_wins(spark, tmp_path, wave_urls):
    """Two urls with identical content in the SAME wave: the one earlier
    in crawl order is canonical; the later one is flagged same_wave."""
    src_url, _dup, _pages = wave_urls
    cat0 = ManifestParquetCatalog(str(tmp_path / "probe"))
    wave.run_crawl(spark, cat0, CFG, n_waves=1)
    art_urls = {r.url for r in wave.read_articles(spark, cat0).collect()}
    # CRAWL order (sort_key), not alphabetical — the gate's first-wins
    # tie-break is the crawl order
    ordered = [u for _w, u in wave.crawl_order(spark, cat0) if u in art_urls]
    assert len(ordered) >= 2
    a_url, b_url = ordered[0], ordered[1]
    pages = synth.build_pages_df(spark, CFG, num_partitions=4)
    donor = pages.filter(F.col("url") == a_url).select(
        F.col("html").alias("_h"), F.col("text").alias("_t")
    )
    doctored = (
        pages.crossJoin(F.broadcast(donor))
        .withColumn(
            "html",
            F.when(F.col("url") == b_url, F.col("_h")).otherwise(F.col("html")),
        )
        .withColumn(
            "text",
            F.when(F.col("url") == b_url, F.col("_t")).otherwise(F.col("text")),
        )
        .drop("_h", "_t")
    )
    cat = ManifestParquetCatalog(str(tmp_path / "same"))
    wave.run_crawl(
        spark, cat, CFG, n_waves=1, pages=doctored, dedup_gate="drop"
    )
    flags = {r.url: r for r in wave.read_near_dup_flags(spark, cat).collect()}
    assert b_url in flags and flags[b_url].scope == "same_wave"
    assert flags[b_url].matched_url == a_url
    urls = {r.url for r in wave.read_articles(spark, cat).collect()}
    assert a_url in urls and b_url not in urls


def test_min_quality_sink_gate(spark, tmp_path):
    """Quality sink gate: below-threshold articles land in
    quality_flags, not the articles table; seen/frontier untouched;
    and with the dedup gate also on, a quality-dropped article never
    becomes a dedup canonical (no bands indexed for it)."""
    from pyspark.sql import functions as F

    from newscrawl.schema import MINHASH_BANDS

    # baseline: find the quality distribution so the threshold splits it
    cat0 = ManifestParquetCatalog(str(tmp_path / "q0"))
    wave.run_crawl(spark, cat0, CFG, n_waves=2)
    quals = sorted(
        r.quality for r in wave.read_articles(spark, cat0).collect()
    )
    assert len(quals) >= 4
    thresh = quals[len(quals) // 2]  # median -> both sides populated
    n_total = len(quals)
    n_below = sum(1 for q in quals if q < thresh)
    assert 0 < n_below < n_total, "threshold must split the corpus"

    cat = ManifestParquetCatalog(str(tmp_path / "q1"))
    wave.run_crawl(
        spark, cat, CFG, n_waves=2, min_quality=thresh, dedup_gate="drop"
    )
    arts = wave.read_articles(spark, cat).collect()
    flags = wave.read_quality_flags(spark, cat).collect()
    assert len(arts) + len(flags) == n_total
    assert len(flags) == n_below
    assert all(r.quality >= thresh for r in arts)
    assert all(r.quality < thresh for r in flags)
    # crawl semantics untouched: same seen set as the ungated run
    assert wave.crawl_order(spark, cat) == wave.crawl_order(spark, cat0)
    # no bands indexed for quality-dropped urls
    bands = cat.read(spark, "minhash_bands", MINHASH_BANDS)
    dropped = {r.url for r in flags}
    assert bands.filter(F.col("url").isin(list(dropped))).count() == 0


def test_same_wave_many_copies_bounded_and_first_wins(spark):
    """Hot-key shape: MANY articles sharing identical content in one
    wave must all flag against the single earliest copy — and the
    per-(band,key) pre-aggregation keeps the join linear in copies
    (the k^2 pair blowup is structurally impossible)."""
    from newscrawl import dedupgate

    n = 40
    text = "alpha beta gamma delta epsilon zeta " * 12
    rows = [(f"https://h/c{i:03d}", text, f"sk{i:03d}") for i in range(n)]
    rows.append(("https://h/unique", "one two three four five six " * 12, "sk999"))
    new = spark.createDataFrame(rows, "url string, text string, sort_key string")
    flags, kept, cached = dedupgate.wave_flags(new, None)
    got = {r.url: r for r in flags.collect()}
    # all but the earliest copy flagged, every one matched to copy 000
    assert len(got) == n - 1
    assert "https://h/c000" not in got and "https://h/unique" not in got
    assert all(r.matched_url == "https://h/c000" for r in got.values())
    assert all(r.scope == "same_wave" for r in got.values())
    # kept bands = earliest copy + the unique doc only
    kept_urls = {r.url for r in kept.select("url").distinct().collect()}
    assert kept_urls == {"https://h/c000", "https://h/unique"}
    cached.unpersist()


def test_same_wave_identical_sort_key_still_first_wins(spark):
    """Two near-dups sharing an IDENTICAL sort_key must still resolve
    to one canonical (url breaks the tie) — a strict sort-key-only
    comparison would let both survive and both pollute the band index."""
    from newscrawl import dedupgate

    text = "alpha beta gamma delta epsilon zeta " * 12
    new = spark.createDataFrame(
        [("https://h/b", text, "sk000"), ("https://h/a", text, "sk000")],
        "url string, text string, sort_key string",
    )
    flags, kept, cached = dedupgate.wave_flags(new, None)
    got = {r.url: r for r in flags.collect()}
    # url tie-break: /a is canonical, /b flagged against it
    assert set(got) == {"https://h/b"}
    assert got["https://h/b"].matched_url == "https://h/a"
    kept_urls = {r.url for r in kept.select("url").distinct().collect()}
    assert kept_urls == {"https://h/a"}
    cached.unpersist()


def test_band_spec_matches_batch_minhash(spark):
    """Spec-drift guard: dedupgate.band_rows — the one band kernel the
    crawl gate and the registry's MinHash-LSH queries share — must
    produce EXACTLY the band keys of the independently written
    pure-Python spec (same shingles, same md5 permutations, same 4x2
    banding).  bigint ids stay bigint; <3-token docs have no rows."""
    from test_properties import _band_keys_python_spec

    from newscrawl import dedupgate

    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "pack my box with five dozen liquor jugs for the long trip"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "Straße  ſchön İstanbul 東京 the naïve café  über alles"),
        (4, "two words"),
    ]
    docs = spark.createDataFrame(texts, "doc_id bigint, text string")
    out = dedupgate.band_rows(docs, "doc_id", "text")
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"
    want = {
        (i, b, k) for i, t in texts for b, k in _band_keys_python_spec(t)
    }
    got = {(r.doc_id, r.band, r.key) for r in out.collect()}
    assert {i for i, _b, _k in want} == {0, 1, 2, 3}
    assert got == want


def test_resume_with_gates_is_byte_identical(spark, tmp_path, wave_urls):
    """Crash-resume under the sink gates: 2 gated waves straight vs
    1 wave + process-death + resume must produce identical articles,
    flags, AND band index (the gate state commits atomically with the
    wave, so resume replays nothing and loses nothing)."""
    from newscrawl.schema import MINHASH_BANDS

    _src, _dup, pages = wave_urls
    kw = dict(pages=pages, dedup_gate="drop", min_quality=0.2)

    cat_a = ManifestParquetCatalog(str(tmp_path / "straight"))
    wave.run_crawl(spark, cat_a, CFG, n_waves=2, **kw)

    cat_b = ManifestParquetCatalog(str(tmp_path / "resumed"))
    wave.run_crawl(spark, cat_b, CFG, n_waves=1, **kw)
    cat_b2 = ManifestParquetCatalog(str(tmp_path / "resumed"))  # "restart"
    wave.run_crawl(spark, cat_b2, CFG, n_waves=2, **kw)

    def state(c):
        arts = sorted(
            (r.url, r.wave_id, r.text)
            for r in wave.read_articles(spark, c).collect()
        )
        flags = sorted(
            map(tuple, wave.read_near_dup_flags(spark, c).collect())
        )
        qflags = sorted(
            map(tuple, wave.read_quality_flags(spark, c).collect())
        )
        bands = sorted(
            map(tuple, c.read(spark, "minhash_bands", MINHASH_BANDS).collect())
        )
        return arts, flags, qflags, bands

    assert state(cat_a) == state(cat_b2)


def _flags_set(flags_df):
    return {
        (r.url, r.matched_url, r.n_band_hits, r.scope)
        for r in flags_df.collect()
    }


def test_bucketed_probe_matches_broadcast(spark, tmp_path, wave_urls):
    """Beyond the broadcast bound (GATE_BROADCAST_MAX_KEYS) the probe
    switches to a bucketed co-located band-index join — both paths must
    produce IDENTICAL flags and kept bands, with and without a bucketed
    bands_table backing the history side."""
    from newscrawl import dedupgate

    src_url, dup_url, doctored = wave_urls
    # wave = every doctored page as one batch of articles; prior = the
    # bands of a crawled first wave (so the dup matches a prior holder)
    arts = doctored.select(
        "url", "text", F.col("url").alias("sort_key")
    )
    prior = dedupgate.band_rows(
        doctored.filter(F.col("url") == src_url).select("url", "text")
    ).withColumn("wave_id", F.lit("w0000"))
    prior_pd = prior.toPandas()
    prior_df = spark.createDataFrame(prior_pd)

    f_b, k_b, c_b = dedupgate.wave_flags(arts, prior_df, probe="broadcast")
    want_flags, want_kept = _flags_set(f_b), {
        (r.url, r.band, r.key) for r in k_b.collect()
    }
    c_b.unpersist()
    f_b.unpersist()

    # bucketed WITHOUT a bands_table (correctness fallback)
    f_k, k_k, c_k = dedupgate.wave_flags(arts, prior_df, probe="bucketed")
    assert _flags_set(f_k) == want_flags
    assert {(r.url, r.band, r.key) for r in k_k.collect()} == want_kept
    c_k.unpersist()
    f_k.unpersist()

    # bucketed WITH the index maintained as a (band,key)-bucketed table
    spark.sql("DROP TABLE IF EXISTS newscrawl_test_band_index")
    dedupgate.write_band_index_bucketed(
        prior_df, "newscrawl_test_band_index", n_buckets=8
    )
    f_t, k_t, c_t = dedupgate.wave_flags(
        arts,
        prior_df,
        probe="bucketed",
        bands_table="newscrawl_test_band_index",
        n_buckets=8,
    )
    assert _flags_set(f_t) == want_flags
    assert {(r.url, r.band, r.key) for r in k_t.collect()} == want_kept
    c_t.unpersist()
    f_t.unpersist()
    # the dup really is flagged against the prior index in every path
    assert any(u == dup_url and s == "prior_wave" for u, _m, _n, s in want_flags)


def test_auto_probe_picks_broadcast_below_bound(spark, wave_urls, monkeypatch):
    """probe='auto' counts the wave's distinct keys: below the bound it
    must take the broadcast path (same flags), above it the bucketed
    path — exercised by shrinking the bound to 1."""
    from newscrawl import dedupgate

    src_url, dup_url, doctored = wave_urls
    arts = doctored.select("url", "text", F.col("url").alias("sort_key"))
    prior = dedupgate.band_rows(
        doctored.filter(F.col("url") == src_url).select("url", "text")
    ).withColumn("wave_id", F.lit("w0000"))

    f_auto, _k, c = dedupgate.wave_flags(arts, prior, probe="auto")
    want = _flags_set(f_auto)
    c.unpersist(); f_auto.unpersist()

    monkeypatch.setattr(dedupgate, "GATE_BROADCAST_MAX_KEYS", 1)
    f_big, _k2, c2 = dedupgate.wave_flags(arts, prior, probe="auto")
    assert _flags_set(f_big) == want
    c2.unpersist(); f_big.unpersist()


def test_extract_bands_match_band_rows(spark):
    """One band implementation: the gated extract kernel's in-pass
    ``bands`` column, posexploded, equals dedupgate.band_rows over the
    same pages' extracted text row for row — through empty and None
    pages, texts under 3 tokens, whitespace-only and leading-whitespace
    bodies, non-ASCII case folding and a skip-titled page (whose bands
    are null: it never becomes an article)."""
    from newscrawl import dedupgate
    from newscrawl import extract as ex

    long = " ".join(f"w{i % 37} t{i % 11}" for i in range(400))
    bodies = {
        "none": None,
        "no-article": b"<html><p>alpha beta gamma delta</p></html>",
        "empty": b"<article></article>",
        "blank": b"<article>  \n\t </article>",
        "blank-title": b"<article><h1>   </h1></article>",
        "two-tokens": b"<article><p>two words</p></article>",
        "three-tokens": b"<article><p>exactly three tokens</p></article>",
        "leading-ws": b"<article><h1> </h1><p>  alpha beta gamma delta</p></article>",
        "long-s": "<article><p>ſtrong ſignal Strong Signal ſtrong</p></article>".encode(),
        "dotted-i": "<article><p>İstanbul İzmir istanbul izmir İSTANBUL</p></article>".encode(),
        "cjk": "<article><p>東京 大阪 京都 名古屋 札幌</p><p>東京大阪京都</p></article>".encode(),
        "long": f"<article><h1>A title</h1><p>{long}</p></article>".encode(),
        "long-copy": f"<article><h1>A title</h1><p>{long}</p></article>".encode(),
        "skip": f"<article><h1>Sign up for our newsletter</h1><p>{long}</p></article>".encode(),
    }
    pages = spark.createDataFrame(
        [(u, None if h is None else bytearray(h)) for u, h in bodies.items()],
        "url string, html binary",
    ).repartition(3)
    out = pages.mapInPandas(
        ex.make_extract_kernel(bands=True),
        schema=f"url string, {ex.EXTRACT_COLUMNS}, {ex.BANDS_COLUMN}",
    ).persist()
    try:
        got = sorted(
            (r.url, r.band, r.key)
            for r in out.select(
                "url", F.posexplode("bands").alias("band", "key")
            ).collect()
        )
        want = sorted(
            (r.url, r.band, r.key)
            for r in dedupgate.band_rows(
                out.filter(~F.col("skip")).select("url", "text")
            ).collect()
        )
        assert got == want
        by_url = {r.url: r for r in out.select("url", "skip", "bands").collect()}
        assert by_url["skip"].skip and by_url["skip"].bands is None
        for u in ("none", "no-article", "empty", "blank", "blank-title", "two-tokens"):
            assert by_url[u].bands is None, u
        for u in ("three-tokens", "leading-ws", "long-s", "dotted-i", "cjk", "long"):
            assert len(by_url[u].bands) == dedupgate.N_BANDS, u
            assert all(by_url[u].bands), u
        assert by_url["long"].bands == by_url["long-copy"].bands
    finally:
        out.unpersist()


def _flags_spec(prior, wave_rows):
    """Brute-force spec of wave_flags over (url, band, key) prior rows
    and (url, band, key, sort_key) wave rows: (flags, kept_bands) sets.

    An article is flagged prior_wave iff a prior row shares one of its
    (band, key)s — matched_url the minimal such prior url; else
    same_wave iff an article with a smaller (sort_key, url) shares one —
    matched_url the url of the minimal such sharer.  n_band_hits counts
    the article's distinct keys of the reported scope."""
    prior_holders: dict = {}
    for u, b, k in prior or []:
        prior_holders.setdefault((b, k), set()).add(u)
    wave_holders: dict = {}
    for u, b, k, sk in wave_rows:
        wave_holders.setdefault((b, k), set()).add((sk, u))
    by_url: dict = {}
    for u, b, k, sk in wave_rows:
        by_url.setdefault(u, set()).add((b, k, sk))
    flags = set()
    for u, rows in by_url.items():
        p_keys = {(b, k) for b, k, _sk in rows if (b, k) in prior_holders}
        if p_keys:
            m = min(min(prior_holders[bk]) for bk in p_keys)
            flags.add((u, m, len(p_keys), "prior_wave"))
            continue
        earlier = {
            (b, k): min(h for h in wave_holders[(b, k)] if h < (sk, u))
            for b, k, sk in rows
            if min(wave_holders[(b, k)]) < (sk, u)
        }
        if earlier:
            flags.add((u, min(earlier.values())[1], len(earlier), "same_wave"))
    flagged = {f[0] for f in flags}
    kept = {(u, b, k) for u, b, k, _sk in wave_rows if u not in flagged}
    return flags, kept


def _random_gate_case(rng, i):
    """(prior rows or None, wave rows) over small url/key/sort-key pools,
    so keys are shared within the wave and with the prior index, sort
    keys tie, and some wave urls are also prior urls."""
    n_keys = rng.choice([2, 3, 6])
    wave_urls = rng.sample([f"https://h/u{j:02d}" for j in range(12)], rng.randint(3, 8))
    wave_rows = []
    for u in wave_urls:
        sk = f"s{rng.randint(0, 2)}"
        for b in range(4):
            k = "hot" if i % 4 == 3 and b == 0 else f"k{rng.randint(0, n_keys)}"
            wave_rows.append((u, b, k, sk))
    if i % 6 == 5:
        return None, wave_rows
    prior_urls = rng.sample([f"https://h/u{j:02d}" for j in range(8)], rng.randint(0, 4))
    prior = [
        (u, b, f"k{rng.randint(0, n_keys + 3)}")
        for u in prior_urls
        for b in range(4)
        if rng.random() < 0.6
    ]
    return prior, wave_rows


def test_wave_flags_match_brute_force_spec(spark):
    """wave_flags(bands=...) equals the brute-force spec on fixed-seed
    random cases mixing prior-wave and same-wave matches: sort-key ties,
    urls both in the prior index and in the wave, one key held by every
    wave url, an empty prior index and no prior index at all."""
    import random

    from newscrawl import dedupgate

    rng = random.Random(20261019)
    for i in range(12):
        prior, wave_rows = _random_gate_case(rng, i)
        bands = spark.createDataFrame(
            wave_rows, "url string, band int, key string, sort_key string"
        )
        prior_df = (
            None
            if prior is None
            else spark.createDataFrame(
                [r + ("w0000",) for r in prior],
                "url string, band int, key string, wave_id string",
            )
        )
        flags, kept, _ = dedupgate.wave_flags(None, prior_df, bands=bands)
        want_flags, want_kept = _flags_spec(prior, wave_rows)
        assert _flags_set(flags) == want_flags, (i, prior, wave_rows)
        assert {(r.url, r.band, r.key) for r in kept.collect()} == want_kept, i
        flags.unpersist()


def test_failed_gate_write_unpersists_flags(spark, tmp_path, monkeypatch):
    """A wave whose minhash_bands write raises still unpersists every
    frame it cached, the near-dup flags included: a retried wave (the
    streaming path) must not accrete cached flag frames."""
    from newscrawl.storage import WaveCommit

    real_write = WaveCommit.write

    def write(self, table, df, mode="append"):
        if table == "minhash_bands":
            raise RuntimeError("injected minhash_bands write failure")
        return real_write(self, table, df, mode)

    pages = synth.build_pages_df(spark, CFG, num_partitions=4)
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    monkeypatch.setattr(WaveCommit, "write", write)
    cat = ManifestParquetCatalog(str(tmp_path / "failed"))
    with pytest.raises(RuntimeError, match="injected"):
        wave.run_crawl(spark, cat, CFG, n_waves=1, pages=pages, dedup_gate="flag")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
