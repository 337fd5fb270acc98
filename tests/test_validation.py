"""Runtime validation raises ValueError (never ``assert``, which
``python -O`` strips) at every engine check of caller input."""

from __future__ import annotations

import pytest

from newscrawl import dedupgate, seenset, streaming, synth, wave
from newscrawl.storage import ManifestParquetCatalog


def _commit_write(spark, tmp_path):
    ManifestParquetCatalog(str(tmp_path)).begin().write("t", None, mode="upsert")


def _commit_write_rows(spark, tmp_path):
    ManifestParquetCatalog(str(tmp_path)).begin().write_rows(
        "t", [], None, mode="upsert"
    )


def _bloom_merge_shape_mismatch(spark, tmp_path):
    seenset.BloomShardSet(k=3).merge(seenset.BloomShardSet(k=4))


def _cuckoo_buckets_not_power_of_two(spark, tmp_path):
    seenset.CuckooFilter(n_buckets=3)


def _srp_embedding_dim(spark, tmp_path):
    from newscrawl import queries as Q

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(0, [0.5, -0.5, 0.25], 0)], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")
    Q.q_srp_lsh_candidates(spark, sf)


def _remote_stream_checkpoint(spark, tmp_path):
    streaming.stream_crawl(spark, None, str(tmp_path), "hdfs://nn:8020/ckpt")


def _unknown_probe_mode_without_prior(spark, tmp_path):
    dedupgate.wave_flags(None, None, probe="Broadcast", bands=None)


def _unknown_dedup_gate_mode(spark, tmp_path):
    wave.run_wave(spark, ManifestParquetCatalog(str(tmp_path)), None, 0, dedup_gate="Drop")


def _unknown_scheduler(spark, tmp_path):
    wave.run_wave(spark, ManifestParquetCatalog(str(tmp_path)), None, 0, scheduler="Scaled")


def _nonpositive_budget(spark, tmp_path):
    # the int budget the CLI's --budget passes; a per-host budget table
    # is not checked
    wave.run_crawl(
        spark, ManifestParquetCatalog(str(tmp_path)), synth.SynthConfig(), budget=0
    )


@pytest.mark.parametrize(
    "call",
    [
        _commit_write,
        _commit_write_rows,
        _bloom_merge_shape_mismatch,
        _cuckoo_buckets_not_power_of_two,
        _srp_embedding_dim,
        _remote_stream_checkpoint,
        _unknown_probe_mode_without_prior,
        _unknown_dedup_gate_mode,
        _unknown_scheduler,
        _nonpositive_budget,
    ],
    ids=lambda f: f.__name__.strip("_"),
)
def test_runtime_check_raises_value_error(spark, tmp_path, call):
    with pytest.raises(ValueError):
        call(spark, tmp_path)


def test_band_index_table_outside_namespace_is_refused(spark):
    with pytest.raises(ValueError, match="newscrawl_"):
        dedupgate._clear_orphan_table_dir(spark, "band_index")
