"""Property tests (hypothesis) for the pure kernels + global rank."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from newscrawl import extract as ex

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=500
)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_clean_text_idempotent(t):
    once = ex.clean_text(t)
    assert ex.clean_text(once) == once


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_clean_text_removes_all_urls(t):
    assert "https://" not in ex.clean_text(t + " https://x.y/z")


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_extract_never_throws_on_garbage(b):
    ex.extract_text(b)
    ex.extract_title(b)
    ex.discover_outlinks(b)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_fingerprint_format_and_determinism(t):
    f1 = ex.rolling_fingerprint(t)
    assert re.fullmatch(r"[0-9a-f]{16}", f1)
    assert ex.rolling_fingerprint(t) == f1


def test_global_rank_matches_sorted_order(spark):
    from pyspark.sql import functions as F

    from newscrawl import priority
    from newscrawl.schema import FRONTIER

    rows = [
        (f"https://h/{i}", "s", i % 3, "sec", i % 5, str((i * 7) % 100).zfill(12))
        for i in range(200)
    ]
    df = priority.with_sort_key(
        spark.createDataFrame(rows, schema=FRONTIER).repartition(7)
    )
    ranked = priority.global_rank(df).collect()
    by_rank = [r.url for r in sorted(ranked, key=lambda r: r.rank)]
    want = [r.url for r in df.orderBy(priority.SORT_KEY, "url").collect()]
    # ranks are 1..n, dense, and agree with the global sort order
    assert sorted(r.rank for r in ranked) == list(range(1, 201))
    assert by_rank == want


def _band_keys_python_spec(text: str) -> set:
    """The pure-Python minhash band spec (the gate kernel's twin):
    8 permutations = the four 8-hex-char slices of md5('0|'+s) and
    md5('1|'+s) per word-3-gram shingle, banded 4x2."""
    import hashlib

    toks = re.split(r"\s+", (text or "").lower())
    if len(toks) < 3:
        return set()
    shingles = set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
    d0 = [hashlib.md5(f"0|{s}".encode()).hexdigest() for s in shingles]
    d1 = [hashlib.md5(f"1|{s}".encode()).hexdigest() for s in shingles]
    sig = [
        min(d[8 * k : 8 * k + 8] for d in ds)
        for ds in (d0, d1)
        for k in range(4)
    ]
    return {(b, sig[2 * b] + sig[2 * b + 1]) for b in range(4)}


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs", "Zs", "Zl", "Zp", "Cc")
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_gate_duckdb_kernel_matches_python_spec(words):
    """The gate's DuckDB-vectorized band kernel must agree with the
    pure-Python spec on ARBITRARY token sequences — not just the fixed
    fixtures of test_band_spec_matches_batch_minhash.  Exercises the
    in-kernel SQL directly (no Spark session needed)."""
    import duckdb
    import pandas as pd

    text = " ".join(w for w in words if w)
    want = _band_keys_python_spec(text)

    toks = re.split(r"\s+", text.lower())
    if len(toks) < 3:
        assert want == set()
        return
    shingles = sorted(set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
    sh = pd.DataFrame({"rid": ["d"] * len(shingles), "s": shingles})  # noqa: F841
    from newscrawl.dedupgate import BAND_SQL_TEMPLATE, N_MINHASH

    con = duckdb.connect()
    con.execute("SET threads=1")
    got = {
        (r[1], r[2])
        for r in con.execute(
            BAND_SQL_TEMPLATE.format(n_md5=N_MINHASH // 4, id_col="url")
        ).fetchall()
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1,
        max_size=20,
    )
)
def test_bpe_driver_loop_matches_naive_spec(words):
    """The driver-resident BPE merge loop (queries._bpe_merge_loop — the
    hot path since the r6 de-jobbing) must equal an independently coded
    naive trainer on arbitrary word lists: same winning merges, same
    final segmentations.  The naive spec re-implements pair counting
    with zip() and merge application with a regex-free split/rebuild —
    different code, same semantics (incl. the count-desc pair-asc
    tie-break and the bounded chained-replace fixpoint)."""
    from collections import Counter

    from newscrawl.queries import (
        BPE_FIX_PASSES,
        N_BPE_MERGES,
        _bpe_merge_loop,
    )

    freqs = Counter(words)
    rows = [
        (w, " " + " ".join(w) + " ", c) for w, c in sorted(freqs.items())
    ]
    merges, final_rows = _bpe_merge_loop(rows)

    # naive spec
    toks = {w: " " + " ".join(w) + " " for w in freqs}
    exp_merges = []
    for step in range(N_BPE_MERGES):
        cnt = Counter()
        for w, t in toks.items():
            syms = t.split()
            for a, b in zip(syms, syms[1:]):
                cnt[f"{a} {b}"] += freqs[w]
        if not cnt:
            break
        pair = sorted(cnt, key=lambda p: (-cnt[p], p))[0]
        exp_merges.append((step, pair, cnt[pair]))
        pat, rep = f" {pair} ", " " + pair.replace(" ", "") + " "
        for w in toks:
            t = toks[w]
            for _ in range(BPE_FIX_PASSES):
                if pat not in t:
                    break
                t = t.replace(pat, rep)
            toks[w] = t
    assert merges == exp_merges
    assert {(w, t) for w, t, _c in final_rows} == set(toks.items())
