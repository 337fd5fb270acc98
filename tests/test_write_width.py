"""Manifest-stats-derived write width (VERDICT round 3, item 4).

The per-wave delta writes must size their file count from estimated bytes
(rows x observed bytes/row from the catalog manifest) / target file size —
so a much bigger wave writes more files and file sizes stay near the
target, instead of a constant cores//4 fan-in at every wave size.
"""

from __future__ import annotations

import math

import pytest

from newscrawl import synth, wave
from newscrawl.storage import ManifestParquetCatalog


def test_file_count_tracks_rows_written(spark, tmp_path, monkeypatch):
    # The rows -> bytes-estimate -> file-count contract is pinned on
    # webhook_payloads: it still sizes its width POST-extract from
    # n_extracted x manifest bytes/row. (The articles table is exempt
    # since the r6 fusion: its write runs INSIDE the extract job, so
    # its width is a PRE-execution estimate from the frontier size —
    # a streaming sink cannot know its output size beforehand.)
    # tiny target (4 KiB) so wave-size differences show up at test scale
    # without both waves clamping at the cores ceiling
    monkeypatch.setenv("NEWSCRAWL_TARGET_FILE_MB", "0.004")
    cfg = synth.SynthConfig(n_seed=2, n_total=40, n_waves=3)
    cat = ManifestParquetCatalog(str(tmp_path / "w"))
    wave.run_crawl(spark, cat, cfg, n_waves=3, webhook_key=b"k")

    arts = wave.read_articles(spark, cat)
    rows_by_wave = {
        r["wave_id"]: r["n"]
        for r in arts.groupBy("wave_id").count().withColumnRenamed("count", "n").collect()
    }
    waves = sorted(rows_by_wave)
    files_by_wave = {
        i: len(cat.files_added_by_wave("webhook_payloads", i))
        for i in range(len(waves))
    }
    # wave 0 has no stats -> fallback width; waves 1+ derive from stats.
    # Among the stats-driven waves, a >=2x-bigger wave must write more
    # files than the smallest one (rows -> bytes estimate -> file count).
    stats_waves = list(range(1, len(waves)))
    assert stats_waves, "need >=2 waves"
    rows_ix = {i: rows_by_wave[waves[i]] for i in stats_waves}
    big = max(stats_waves, key=rows_ix.get)
    small = min(stats_waves, key=rows_ix.get)
    assert rows_ix[big] >= 2 * rows_ix[small], (
        f"fixture not skewed enough: {rows_ix}"
    )
    assert files_by_wave[big] > files_by_wave[small], (rows_ix, files_by_wave)


def test_write_width_clamps_small_deltas_to_one_file(spark, tmp_path, monkeypatch):
    """A delta smaller than one target file writes exactly ONE file —
    EVERY wave, including wave 0 (no manifest stats yet, estimate from
    the conservative bytes/row fallback). Multi-file writes of KB-scale
    state deltas are pure task-scheduling overhead that gets WORSE with
    more cores (the r5 inverse-scaling residue)."""
    monkeypatch.setenv("NEWSCRAWL_TARGET_FILE_MB", "1024")  # huge target
    cfg = synth.SynthConfig(n_seed=2, n_total=16, n_waves=2)
    cat = ManifestParquetCatalog(str(tmp_path / "c"))
    wave.run_crawl(spark, cat, cfg, n_waves=2)
    for i in (0, 1):
        assert len(cat.files_added_by_wave("articles", i)) == 1


MIB = 1 << 20


def test_write_plan_falls_back_without_stats(monkeypatch):
    """No manifest stats (first wave): _FALLBACK_BYTES_PER_ROW per row;
    with stats, the table's observed bytes/row."""
    monkeypatch.delenv("NEWSCRAWL_TARGET_FILE_MB", raising=False)
    width, est = wave.write_plan({}, 100_000, 64)
    assert est == 100_000 * wave._FALLBACK_BYTES_PER_ROW
    assert width == math.ceil(est / wave._MIN_FILE_BYTES)
    stats = {"rows": 100, "files": [{"bytes": 30_000}, {"bytes": 10_000}]}
    assert wave.write_plan(stats, 1_000_000, 64) == (24, 400.0 * 1_000_000)
    # rows without bytes is no usable ratio either
    assert wave.write_plan({"rows": 5, "files": []}, 10, 64)[1] == 10 * 256


@pytest.mark.parametrize(
    "n_rows, cores, want", [(0, 8, 1), (1, 8, 1), (10**9, 8, 8), (10**9, 1, 1)]
)
def test_write_plan_clamps_width_to_cores(monkeypatch, n_rows, cores, want):
    monkeypatch.delenv("NEWSCRAWL_TARGET_FILE_MB", raising=False)
    assert wave.write_plan({}, n_rows, cores)[0] == want


@pytest.mark.parametrize(
    "target_mb, divisor",
    [(None, 16 * MIB), ("128", 16 * MIB), ("16", 16 * MIB), ("4", 4 * MIB), ("0.004", 0.004 * MIB)],
)
def test_write_plan_divides_by_min_of_target_and_16_mib(monkeypatch, target_mb, divisor):
    if target_mb is None:
        monkeypatch.delenv("NEWSCRAWL_TARGET_FILE_MB", raising=False)
    else:
        monkeypatch.setenv("NEWSCRAWL_TARGET_FILE_MB", target_mb)
    stats = {"rows": 1, "files": [{"bytes": MIB}]}  # 1 MiB per row
    width, est = wave.write_plan(stats, 40, 10**7)
    assert est == 40 * MIB
    assert width == math.ceil(40 * MIB / int(divisor))


def test_fused_width_switches_at_floor(monkeypatch):
    """Below _FUSED_FLOOR_BYTES the fused articles write keeps the
    planned width; at or above it, every core."""
    monkeypatch.delenv("NEWSCRAWL_TARGET_FILE_MB", raising=False)
    stats = {"rows": 1, "files": [{"bytes": 1024}]}  # 1 KiB per row
    floor_rows = wave._FUSED_FLOOR_BYTES // 1024
    assert wave.write_plan(stats, floor_rows - 1, 8)[0] == 1
    assert wave.fused_width(stats, floor_rows - 1, 8) == 1
    assert wave.fused_width(stats, floor_rows, 8) == 8
    # a planned width already above 1 is kept below the floor too
    monkeypatch.setenv("NEWSCRAWL_TARGET_FILE_MB", "0.0625")  # 64 KiB
    assert wave.fused_width(stats, floor_rows - 1, 8) == 4


def _shuffles(df) -> bool:
    head = df._jdf.queryExecution().logical().toString().splitlines()[0]
    assert head.startswith("Repartition "), head
    return head.endswith("true")


@pytest.mark.parametrize(
    "width, cores, est, shuffle",
    [
        (1, 8, 1024, True),  # small delta, narrow: repartition
        (3, 8, 64 * MIB, True),  # at the small-delta bound
        (1, 8, 64 * MIB + 1, False),  # above it: coalesce
        (4, 8, 1024, False),  # width not below cores // 2
        (1, 2, 1024, False),  # 1 < 2 // 2 is false
        (1, 8, None, False),  # no estimate: coalesce
    ],
)
def test_narrowed_repartitions_only_small_narrow_deltas(spark, width, cores, est, shuffle):
    df = wave.narrowed(spark.range(10), width, cores, est)
    assert _shuffles(df) is shuffle


def test_write_narrowed_plans_then_narrows(spark, monkeypatch):
    monkeypatch.delenv("NEWSCRAWL_TARGET_FILE_MB", raising=False)
    df = wave.write_narrowed(spark.range(10), {}, 10, 8)
    assert _shuffles(df) and df.rdd.getNumPartitions() == 1
