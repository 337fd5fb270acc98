"""Physical-plan assertions: the shapes that matter at 100 TB.

- the fetch join must broadcast the candidate side (html bytes never
  shuffle)
- the fetch-failure anti-join must read only pages.url (column pruning)
- operator queries keep filters pushed into the parquet scan
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newscrawl import synth
from newscrawl.queries import q_min_content_filter, q_pricing_summary


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fetch_join_broadcasts_candidates(spark, tmp_path):
    cfg = synth.SynthConfig()
    pages = synth.build_pages_df(spark, cfg, num_partitions=4)
    pages_dir = str(tmp_path / "pages")
    pages.write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)

    from newscrawl import priority

    kept = priority.with_sort_key(priority.seed_ord(synth.build_seeds_df(spark, cfg)))
    fetched = pages.select("url", "warc_ts", "html").join(
        F.broadcast(kept), "url", "inner"
    )
    plan = _plan(fetched)
    assert "BroadcastHashJoin" in plan
    # the pages scan must not read the ground-truth text/lang columns
    assert "text" not in plan.split("ReadSchema")[-1]


def test_failure_antijoin_prunes_to_url_only(spark, tmp_path):
    cfg = synth.SynthConfig()
    pages = synth.build_pages_df(spark, cfg, num_partitions=4)
    pages_dir = str(tmp_path / "pages2")
    pages.write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)

    seeds = synth.build_seeds_df(spark, cfg)
    anti = seeds.join(pages.select("url"), "url", "left_anti")
    read_schema = _plan(anti).split("ReadSchema: ")[-1].splitlines()[0]
    assert "url" in read_schema
    for heavy in ("html", "text", "warc_ts", "lang"):
        assert heavy not in read_schema


def test_filter_pushdown_in_queries(spark):
    plan = _plan(q_min_content_filter(spark, "/root/testdata/sf0.01"))
    assert "PushedFilters" in plan or "Filter" in plan
    # column pruning: only doc_id + text needed
    rs = plan.split("ReadSchema: ")[-1].splitlines()[0]
    assert "doc_id" in rs and "text" in rs and "source" not in rs


def test_agg_uses_whole_stage_codegen(spark):
    df = q_pricing_summary(spark, "/root/testdata/sf0.01")
    df.collect()  # finalize the AQE plan before inspecting it
    plan = _plan(df)
    # partial aggregation (map-side combine) before the shuffle
    assert plan.count("HashAggregate") >= 2
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "*(" in plan


def test_bucketed_fetch_join_has_no_exchange(spark, tmp_path):
    """The 10^10-frontier path: identically-bucketed pages & frontier
    sort-merge join with ZERO Exchange — html never moves."""
    from newscrawl import bucketing

    cfg = synth.SynthConfig()
    pages = synth.build_pages_df(spark, cfg, num_partitions=4)
    seeds = synth.build_seeds_df(spark, cfg)
    bucketing.write_bucketed(pages, "pages_b", 8)
    bucketing.write_bucketed(seeds, "frontier_b", 8)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_fetch(spark, "frontier_b", "pages_b")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually returns the fetchable seeds
        n = joined.count()
        assert n > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS pages_b")
        spark.sql("DROP TABLE IF EXISTS frontier_b")


def test_embedding_near_dup_never_materializes_on_driver(spark, monkeypatch):
    """The block-pair GEMM must be fully distributed: fail the test if
    any driver-side materialization (toPandas/collect) happens while
    building OR executing the query."""
    from pyspark.sql import DataFrame

    from newscrawl.queries import q_embedding_near_dup

    def boom(self, *a, **k):
        raise AssertionError("driver-side materialization in q_embedding_near_dup")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = q_embedding_near_dup(spark, "/root/testdata/sf0.01")
    assert df.count() > 0  # count() is the driver's one legal aggregate


def test_bucketed_wave_equals_broadcast_wave(spark, tmp_path):
    """The 10^10-frontier fetch strategy (co-located bucketed sort-merge,
    pages_table=...) must produce the exact crawl the broadcast strategy
    produces — same order, same articles — while planning no Exchange on
    the pages side."""
    from newscrawl import wave
    from newscrawl.bucketing import write_bucketed
    from newscrawl.storage import ManifestParquetCatalog

    cfg = synth.SynthConfig(n_seed=2, n_total=10, n_waves=2)
    pages = synth.build_pages_df(spark, cfg)
    write_bucketed(pages, "t_pages_bucketed", 8)

    cat_b = ManifestParquetCatalog(str(tmp_path / "broadcast"))
    wave.run_crawl(spark, cat_b, cfg, pages=pages)
    cat_k = ManifestParquetCatalog(str(tmp_path / "bucketed"))
    wave.run_crawl(
        spark, cat_k, cfg, pages_table="t_pages_bucketed", fetch_buckets=8
    )

    assert wave.crawl_order(spark, cat_b) == wave.crawl_order(spark, cat_k)
    key = lambda r: (r.url, r.wave_id, r.fingerprint, r.topic)
    got_b = sorted(map(key, wave.read_articles(spark, cat_b).collect()))
    got_k = sorted(map(key, wave.read_articles(spark, cat_k).collect()))
    assert got_b == got_k
    # (the zero-Exchange plan shape of the co-located join itself is
    # asserted by test_bucketed_fetch_join_has_no_exchange above)
    spark.sql("DROP TABLE IF EXISTS t_pages_bucketed")


def test_interval_join_is_equi_join_not_theta(spark):
    """The bucketized range join must plan as a hash/sort-merge EQUI
    join — never a nested-loop/cartesian theta join."""
    from newscrawl.queries import q_interval_join

    plan = _plan(q_interval_join(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_side_kernels_have_no_exchange(spark):
    """Zero-shuffle operators: the whole plan rides the scan."""
    from newscrawl.queries import q_doc_fingerprint, q_quality_prune_pipeline

    for q in (q_doc_fingerprint, q_quality_prune_pipeline):
        plan = _plan(q(spark, "/root/testdata/sf0.01"))
        # RoundRobin repartition (_spread) is allowed: it widens a
        # single-file scan; hash/range exchanges would mean a shuffle
        import re

        hash_exchanges = re.findall(r"Exchange (hash|range)partitioning", plan)
        assert not hash_exchanges, (q.__name__, hash_exchanges)


def test_sequence_pack_single_partitioned_window(spark):
    """Packing must be a PARTITIONED window (per-lang), never a global
    single-partition sort."""
    from newscrawl.queries import q_sequence_pack

    plan = _plan(q_sequence_pack(spark, "/root/testdata/sf0.01"))
    assert "Exchange hashpartitioning(lang" in plan
    assert "Exchange SinglePartition" not in plan


def test_rollup_single_shuffle(spark):
    """GROUP BY ROLLUP computes all three aggregation levels from one
    Expand + one aggregation exchange — not three scans."""
    from newscrawl.queries import q_rollup_counts

    plan = _plan(q_rollup_counts(spark, "/root/testdata/sf0.01"))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1


def _ancestors_until(plan: str, leaf_marker: str, stop: str) -> list[str]:
    """Node names on the path from the (unique) leaf matching
    ``leaf_marker`` UP to (and excluding) the nearest ancestor whose name
    contains ``stop``, in the indented executedPlan tree.  A line is an
    ancestor iff its node name starts at a strictly smaller column than
    the current node's."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-*(0123456789)":
            i += 1
        return i

    leaf_idx = [i for i, l in enumerate(lines) if leaf_marker in l]
    assert len(leaf_idx) == 1, f"expected one {leaf_marker!r} leaf:\n{plan}"
    cur = depth(lines[leaf_idx[0]])
    out: list[str] = []
    for i in range(leaf_idx[0] - 1, -1, -1):
        d = depth(lines[i])
        if d < cur:
            cur = d
            name = lines[i].strip(" :+-*")
            if stop in name:
                return out
            out.append(name)
    return out


def test_dedup_gate_probe_broadcasts_new_side(spark, tmp_path):
    """The near-dup index probe must broadcast the (bounded) new wave's
    bands so the historical index side streams without shuffling — the
    prior scan must feed the BroadcastHashJoin DIRECTLY, with no
    Exchange or HashAggregate between (a full-history aggregation
    upstream of the probe is the exact 100-TB hazard this gate exists
    to avoid; regression shipped once in r4)."""
    from newscrawl import dedupgate

    prior_dir = str(tmp_path / "prior_bands")
    spark.createDataFrame(
        [(f"https://h/{i}", i % 4, f"k{i}", "w0000") for i in range(100)],
        "url string, band int, key string, wave_id string",
    ).write.parquet(prior_dir)
    prior = spark.read.parquet(prior_dir)
    new = spark.createDataFrame(
        [("https://h/new1", "alpha beta gamma delta " * 16, "a"),
         ("https://h/new2", "epsilon zeta eta theta " * 16, "b")],
        "url string, text string, sort_key string",
    )
    flags, _kept, cached = dedupgate.wave_flags(new, prior)
    plan = _plan(flags)
    assert "BroadcastHashJoin" in plan
    # the ONLY FileScan in this plan is the prior index; its path to the
    # probe join must be shuffle- and aggregation-free
    path = _ancestors_until(plan, "FileScan parquet", "Join")
    assert not any(
        "Exchange" in n or "HashAggregate" in n for n in path
    ), f"prior side shuffles/aggregates before the probe join: {path}\n{plan}"
    cached.unpersist()


def test_dedup_gate_flags_plan_is_one_earliest_holder_pass(spark, tmp_path):
    """The broadcast-path flags plan asks each (band, key) for its
    earliest holder once: the prior semi-filter is its only join, and it
    shuffles at most twice (the per-key window, the per-url aggregate) —
    counted in the final adaptive plan after the flags ran."""
    import re

    from newscrawl import dedupgate

    prior_dir = str(tmp_path / "prior_bands")
    spark.createDataFrame(
        [(f"https://h/{i}", i % 4, f"k{i % 7}", "w0000") for i in range(100)],
        "url string, band int, key string, wave_id string",
    ).write.parquet(prior_dir)
    bands = spark.createDataFrame(
        [(f"https://h/new{i}", b, f"k{(i + b) % 9}", f"s{i % 3}")
         for i in range(6) for b in range(4)],
        "url string, band int, key string, sort_key string",
    )
    flags, _kept, _ = dedupgate.wave_flags(
        None, spark.read.parquet(prior_dir), bands=bands
    )
    # the same plan uncached, so the executed plan is the probe itself
    # rather than a scan of the persisted flags
    flags.unpersist()
    probe = flags.select(*flags.columns)
    assert probe.collect()
    plan = _plan(probe)
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 2, final
    assert len(re.findall(r"Join ", final)) == 1, final
    assert "BroadcastHashJoin" in final, final


def test_bm25_topk_is_take_ordered(spark):
    """The BM25 top-k must be a TakeOrderedAndProject (bounded partial
    top-k per partition), never a global Sort of the scored set."""
    from newscrawl.queries import q_bm25_topk

    plan = _plan(q_bm25_topk(spark, "/root/testdata/sf0.01"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bpe_encode_mapping_broadcasts(spark):
    """Tokenizer application must be a map-side broadcast join of the
    vocabulary-sized mapping against the corpus scan — a shuffled join
    keyed on words would move the whole corpus at 100 TB."""
    from newscrawl.queries import q_bpe_encode

    plan = _plan(q_bpe_encode(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_srp_near_dup_no_cartesian(spark):
    """The SRP verify step must only score bucket-join candidates —
    never an all-pairs product."""
    from newscrawl.queries import q_srp_near_dup

    plan = _plan(q_srp_near_dup(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_gate_bucketed_probe_is_colocated(spark, tmp_path):
    """Past the broadcast bound the probe's scale path is a bucketed
    band-index join: with the history maintained as a (band, key)-
    bucketed table and the wave's keys written with the same bucket
    spec, the semi-filter plans as a sort-merge join whose HISTORY side
    has NO Exchange between its scan and the join — co-located, the
    bucketing.py fetch-join pattern."""
    from newscrawl import dedupgate

    spark.sql("DROP TABLE IF EXISTS newscrawl_plan_band_index")
    prior = spark.createDataFrame(
        [(f"https://h/{i}", i % 4, f"k{i}", "w0000") for i in range(100)],
        "url string, band int, key string, wave_id string",
    )
    dedupgate.write_band_index_bucketed(
        prior, "newscrawl_plan_band_index", n_buckets=8
    )
    new = spark.createDataFrame(
        [("https://h/new1", "alpha beta gamma delta " * 16, "a"),
         ("https://h/new2", "epsilon zeta eta theta " * 16, "b")],
        "url string, text string, sort_key string",
    )
    flags, _kept, cached = dedupgate.wave_flags(
        new,
        spark.table("newscrawl_plan_band_index"),
        probe="bucketed",
        bands_table="newscrawl_plan_band_index",
        n_buckets=8,
    )
    plan = _plan(flags)
    assert "SortMergeJoin" in plan
    path = _ancestors_until(plan, "newscrawl_plan_band_index", "Join")
    assert not any(
        "Exchange" in n or "HashAggregate" in n for n in path
    ), f"history side shuffles before the co-located probe join: {path}\n{plan}"
    cached.unpersist()


def test_round6_cleaners_ride_the_scan(spark):
    """pii_redact / c4_line_filter / blocklist_filter are pure map over
    the page scan: no hash/range Exchange anywhere (the 100 TB shape —
    a cleaner that shuffles is wrong by construction), and the scan
    reads only the columns the operator needs."""
    import re

    from newscrawl.queries import (
        q_blocklist_filter,
        q_c4_line_filter,
        q_pii_redact,
    )

    for q in (q_pii_redact, q_c4_line_filter, q_blocklist_filter):
        plan = _plan(q(spark, "/root/testdata/sf0.01"))
        hash_exchanges = re.findall(r"Exchange (hash|range)partitioning", plan)
        assert not hash_exchanges, (q.__name__, hash_exchanges)
        rs = plan.split("ReadSchema: ")[-1].splitlines()[0]
        assert "source" not in rs and "lang" not in rs, (q.__name__, rs)


def test_hll_register_update_is_partial_agg(spark):
    """The (source,bucket) register max must run as a two-phase hash
    aggregate (partial_max before the Exchange): HLL's whole point at
    100 TB is that updates combine map-side to O(sources x 16) rows."""
    from newscrawl.queries import q_hll_distinct

    plan = _plan(q_hll_distinct(spark, "/root/testdata/sf0.01"))
    assert "partial_max" in plan, plan[:2000]


def test_logreg_scoring_is_single_aggregation(spark):
    """The scoring pass after training: exactly one hash-partitioning
    Exchange (the 4-cell confusion groupBy) — the learned weights are
    literals in a map-side Project, never a join."""
    import re

    from newscrawl.queries import q_logreg_quality

    plan = _plan(q_logreg_quality(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hash_exchanges) == 1, hash_exchanges


def test_gated_wave_bands_come_from_the_extract_pass(spark, tmp_path, monkeypatch):
    """A flag-mode gated wave hands wave_flags band rows whose plan holds
    exactly ONE MapInPandas — the extract kernel, inside the cached
    extract relation: the band keys come out of the extract pass, not
    from a second Arrow kernel over every article's text."""
    from newscrawl import dedupgate, wave
    from newscrawl.storage import ManifestParquetCatalog

    real = dedupgate.wave_flags
    plans = []

    def spy(*args, **kwargs):
        # planned while run_wave still holds the extract cache
        plans.append(_plan(kwargs["bands"]))
        return real(*args, **kwargs)

    monkeypatch.setattr(dedupgate, "wave_flags", spy)
    cfg = synth.SynthConfig(n_seed=2, n_total=10, n_waves=1)
    # a parquet page corpus, so the synthetic generator's own kernel is
    # not part of the plan
    synth.build_pages_df(spark, cfg).write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    cat = ManifestParquetCatalog(str(tmp_path / "gated"))
    wave.run_crawl(spark, cat, cfg, pages=pages, dedup_gate="flag")
    assert len(plans) == 1
    plan = plans[0]
    assert plan.count("MapInPandas") == 1, plan
    assert plan.index("InMemoryRelation") < plan.index("MapInPandas"), plan


def test_gated_wave_extracts_at_host_width(spark, tmp_path, monkeypatch):
    """A gated wave over a pages corpus split four times wider than the
    host extracts at host width: the extract cache holds at most
    defaultParallelism partitions, and no Exchange sits between the
    pages scan and the extract MapInPandas — on the broadcast fetch path
    and on the bucketed (pages_table=) path alike, so html never moves."""
    from newscrawl import dedupgate, wave
    from newscrawl.bucketing import write_bucketed
    from newscrawl.storage import ManifestParquetCatalog

    cores = spark.sparkContext.defaultParallelism
    real = dedupgate.wave_flags
    seen = []

    def spy(*args, **kwargs):
        # the band rows are a narrow projection of the extract cache:
        # planned and sized while run_wave still holds it
        bands = kwargs["bands"]
        seen.append((_plan(bands), bands.rdd.getNumPartitions()))
        return real(*args, **kwargs)

    monkeypatch.setattr(dedupgate, "wave_flags", spy)
    cfg = synth.SynthConfig(n_seed=2, n_total=10, n_waves=1)
    pages = synth.build_pages_df(spark, cfg, num_partitions=4 * cores)
    pages.write.parquet(str(tmp_path / "pages"))
    spark.sql("DROP TABLE IF EXISTS t_pages_wide")
    # one scan split per (tiny) file, as a corpus of big files would get
    old = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        pages = spark.read.parquet(str(tmp_path / "pages"))
        assert pages.rdd.getNumPartitions() == 4 * cores
        wave.run_crawl(
            spark,
            ManifestParquetCatalog(str(tmp_path / "broadcast")),
            cfg,
            pages=pages,
            dedup_gate="flag",
        )
        write_bucketed(pages, "t_pages_wide", 4 * cores)
        wave.run_crawl(
            spark,
            ManifestParquetCatalog(str(tmp_path / "bucketed")),
            cfg,
            pages_table="t_pages_wide",
            fetch_buckets=4 * cores,
            dedup_gate="flag",
        )
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)
        spark.sql("DROP TABLE IF EXISTS t_pages_wide")
    assert len(seen) == 2
    for plan, n_parts in seen:
        assert n_parts <= cores, (n_parts, plan)
        # the only scan that reads html is the pages corpus
        path = _ancestors_until(plan, "html:", "MapInPandas")
        assert not any("Exchange" in n for n in path), f"{path}\n{plan}"
        # the path really spans scan -> extract, through the narrowing
        assert any("Coalesce" in n for n in path), f"{path}\n{plan}"
