"""session_memo: one build per key, per-application lifetime with
unpersist on eviction, nothing stored for a failed build; and the entry
composite's crawled-docs frame follows the catalog's current snapshot."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from newscrawl import queries as Q


class _Frame:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def _app(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def memo(monkeypatch):
    """A private memo dict, so stub applications never evict the live
    test session's entries."""
    d: dict = {}
    monkeypatch.setattr(Q, "_MEMO", d)
    return d


def test_one_build_per_key(memo):
    builds = []

    def build():
        builds.append(1)
        return _Frame()

    a = _app("app-1")
    f1 = Q.session_memo(a, "frames", build, "/sf", 1)
    assert Q.session_memo(a, "frames", build, "/sf", 1) is f1
    assert len(builds) == 1
    # another key or another name is another entry
    Q.session_memo(a, "frames", build, "/sf", 2)
    Q.session_memo(a, "other", build, "/sf", 1)
    assert len(builds) == 3
    assert set(memo) == {
        ("app-1", "frames", "/sf", 1),
        ("app-1", "frames", "/sf", 2),
        ("app-1", "other", "/sf", 1),
    }


def test_new_application_evicts_and_unpersists(memo):
    frame, pair_frame = _Frame(), _Frame()
    Q.session_memo(_app("old"), "frame", lambda: frame, "/sf")
    Q.session_memo(_app("old"), "pair", lambda: (["m"], pair_frame), "/sf")
    Q.session_memo(_app("old"), "path", lambda: "/tmp/x", "/sf")
    fresh = Q.session_memo(_app("new"), "frame", _Frame, "/sf")
    assert fresh is not frame
    assert frame.unpersisted and pair_frame.unpersisted
    assert set(memo) == {("new", "frame", "/sf")}


def test_failed_build_stores_nothing(memo):
    def boom():
        raise ValueError("bad input")

    a = _app("app-1")
    with pytest.raises(ValueError):
        Q.session_memo(a, "frame", boom, "/sf")
    assert memo == {}
    f = _Frame()
    assert Q.session_memo(a, "frame", lambda: f, "/sf") is f


def test_new_entry_snapshot_rebuilds_crawled_docs(spark, tmp_path, monkeypatch):
    """A wave committed to the entry catalog after the first call must
    reach the next _corpus_prepare_crawled call: the docs frame is keyed
    on the catalog's snapshot id, so it is rebuilt, not served stale."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    sf = "unused"  # a docs= frame replaces the sf tables
    cfg = synth.SynthConfig(n_seed=2, n_total=12, n_waves=2)
    cat = ManifestParquetCatalog(str(tmp_path / "entry"))
    wave.run_crawl(spark, cat, cfg, n_waves=1)
    monkeypatch.setattr(em, "_entry_catalog", lambda s: cat)

    def fresh():
        arts = wave.read_articles(spark, cat)
        docs = arts.select(
            F.conv(F.substring(F.md5("url"), 1, 15), 16, 10)
            .cast("long")
            .alias("doc_id"),
            F.col("lang_pred").alias("lang"),
            "text",
            "quality",
            "n_tokens",
        )
        return sorted(map(tuple, em._prepare_crawled_docs(spark, sf, docs).collect()))

    def memoized():
        return sorted(map(tuple, em._corpus_prepare_crawled(spark, sf).collect()))

    first = memoized()
    assert first == fresh()
    assert memoized() == first  # same snapshot: served from the memo
    wave.run_crawl(spark, cat, cfg, n_waves=2)
    second = memoized()
    assert second == fresh()
    assert len(second) > len(first)  # the new wave's articles are in
