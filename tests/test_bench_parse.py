"""bench.py timing-parser unit tests (pure Python, no Spark)."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from bench import parse_wave_timing, scaling_pair

WARMUP = """[w0000] dedup+count: 9.05s
[w0000] extract(materialize): 2.62s
[w0000] write:articles: 0.33s rows=120 bytes=94961
[w0000] parallel writes+stats: 0.60s
[w0000] commit: 0.00s
"""
REP = """[w0000] dedup+count: 1.45s
[w0000] bloom_load: 0.10s
[w0000] extract(materialize): 124.13s
[w0000] write:articles: 22.79s rows=580098 bytes=1276097063
[w0000] job:accel_build: 2.68s
[w0000] parallel writes+stats: 22.81s
[w0000] bloom_merge+metrics: 0.02s
[w0000] commit: 0.00s
"""
REP2 = REP.replace("124.13", "150.00").replace("22.79", "30.00")


def test_warmup_block_dropped_positionally():
    """A warmup slowed by disk interference must never be selected as
    the rep decomposition (magnitude heuristics misfire on it)."""
    best = parse_wave_timing(WARMUP + REP + REP2)
    assert best["extract(materialize)"] == 124.13  # the fastest REAL rep
    assert best["writes"]["articles"]["bytes"] == 1276097063
    assert best["data_plane_sec"] == 124.13
    # residue = everything else (incl. the pool phase with its space label)
    assert abs(best["residue_sec"] - (1.45 + 0.10 + 22.81 + 0.02)) < 0.01


def test_single_block_kept():
    assert parse_wave_timing(REP)["extract(materialize)"] == 124.13


def test_no_blocks():
    assert parse_wave_timing("noise\n") is None


MARK = "[bench] rep-begin\n"
WAVE_A = """[w0000] dedup+count: 1.00s
[w0000] extract(materialize): 10.00s
[w0000] write:articles: 2.00s rows=100 bytes=1000
[w0000] commit: 0.00s
"""
WAVE_B = """[w0001] dedup+count: 0.50s
[w0001] extract(materialize): 5.00s
[w0001] write:articles: 1.00s rows=50 bytes=500
[w0001] commit: 0.00s
"""


def test_marker_groups_multiwave_reps():
    """ADVICE r3: with rep-begin markers, a multi-wave rep is ONE unit —
    phases sum across its waves, and 'best rep' compares complete crawls
    (the old parser would have picked the fastest single wave)."""
    slow_rep = (WAVE_A + WAVE_B).replace("10.00", "40.00")
    out = parse_wave_timing(WARMUP + MARK + WAVE_A + WAVE_B + MARK + slow_rep)
    # the fast rep, waves summed: 10 + 5
    assert out["extract(materialize)"] == 15.00
    assert out["dedup+count"] == 1.50
    assert out["writes"]["articles"] == {"sec": 3.00, "rows": 150, "bytes": 1500}
    assert out["data_plane_sec"] == 15.00


def test_marker_drops_warmup_structurally():
    """Everything before the first marker is warmup, regardless of how
    many waves the warmup config ran."""
    out = parse_wave_timing(WARMUP + WARMUP + MARK + WAVE_A)
    assert out["extract(materialize)"] == 10.00


def test_no_marker_falls_back_to_positional():
    assert parse_wave_timing(WARMUP + REP)["extract(materialize)"] == 124.13


def test_driver_artifact_fragment_recovery(tmp_path):
    """The driver records bench stdout as ONE long JSON line whose tail
    keeps only the last ~2000 chars ("parsed": null when its own parse
    fails) — the comparison base must still be recoverable from the
    surviving balanced fragments, or regression detection dies exactly
    when the result grew large (the r4/r5 failure mode)."""
    import json

    from bench import _parse_driver_artifact

    full = json.dumps(
        {
            # big enough that the head (incl. the "queries" opener) is
            # truncated away, small enough that queries_median survives
            "queries": {f"q{i}": 1.0 + i for i in range(200)},
            "queries_median": {f"q{i}": 1.5 + i for i in range(30)},
            "crawl": {"sec": 13.17, "sec_median": 15.8, "urls_per_sec": 7641.0},
        }
    )
    art = tmp_path / "BENCH_r99.json"
    art.write_text(
        json.dumps({"parsed": None, "tail": full[-2000:], "rc": 0})
    )
    got = _parse_driver_artifact(str(art))
    assert got is not None
    assert got["crawl"]["urls_per_sec"] == 7641.0
    # queries_median survives in the last 2000 chars of this payload
    assert got["queries_median"]["q29"] == 30.5


def test_driver_artifact_prefers_parsed(tmp_path):
    import json

    from bench import _parse_driver_artifact

    art = tmp_path / "BENCH_r98.json"
    art.write_text(
        json.dumps({"parsed": {"crawl": {"sec": 1.0}}, "tail": "garbage"})
    )
    assert _parse_driver_artifact(str(art)) == {"crawl": {"sec": 1.0}}


def test_last_run_roundtrip(tmp_path, monkeypatch):
    """bench.py's self-owned artifact is preferred over any driver
    recording as the delta base."""
    import json

    import bench

    monkeypatch.setattr(
        bench, "LAST_RUN_PATH", str(tmp_path / "last_run.json")
    )
    bench.save_last_run({"crawl": {"sec": 2.0}, "queries": {}})
    name, data = bench.load_prev_bench()
    assert name == "BENCH/last_run.json"
    assert data["crawl"]["sec"] == 2.0


def test_scaling_pair_follows_the_host():
    """--scaling's N/4N legs come from the affinity set: N is a quarter
    of the CPUs, each leg pins the lowest ids as a taskset -c list."""
    import pytest

    assert scaling_pair([0, 1, 2, 3]) == ((1, "0"), (4, "0,1,2,3"))
    n, cpuset = scaling_pair(list(range(32)))[0]
    assert (n, cpuset) == (8, "0,1,2,3,4,5,6,7")
    # unordered and non-contiguous sets; a remainder CPU stays unused
    assert scaling_pair([9, 2, 5, 3, 7]) == ((1, "2"), (4, "2,3,5,7"))
    with pytest.raises(ValueError):
        scaling_pair([0, 1, 2])
