"""Incremental near-duplicate gate: a persistent MinHash-LSH band index.

The batch dedup operators (queries.q_minhash_lsh_candidates and friends)
compare a corpus against itself.  A crawl doesn't have that luxury: every
wave must ask "is this article a near-duplicate of ANYTHING crawled
before?" without re-scanning history.  The production shape is an
accreting LSH index — this module implements it over the wave catalog:

- every kept article contributes its 4 band keys (8 minhash
  permutations — the four 32-bit hex slices of two md5 evaluations per
  word-3-gram shingle — banded 4x2; identical parameters and hash
  construction to the batch operators, so the two agree) to the
  ``minhash_bands`` table, committed atomically with the wave;
- the next wave probes the table with a broadcast semi-filter FIRST and
  aggregates SECOND: the historical index — the 10^10-row side at web
  scale — streams map-side through a BroadcastHashJoin against the
  wave's distinct (band, key) set and never shuffles; only the matched
  rows (bounded by wave keys x their sharers) are then aggregated to one
  representative per key.  Within the wave, first-wins by the crawl sort
  key (the same tie-break as the engine's exact first-wins dedup);
- ``flag`` mode records decisions in ``near_dup_flags``; ``drop`` mode
  additionally withholds flagged articles from the articles sink (their
  bands are NOT indexed — the index holds canonical documents only).

Reference parity note: the reference crawler has no near-dup concept at
all (exact url-seen only, lib/repositories/link_pool_repository.py) —
this is one of the training-data-pipeline capabilities layered on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

N_MINHASH = 8  # == queries.N_MINHASH; 4 bands x 2 rows
N_BANDS = N_MINHASH // 2

# The in-kernel DuckDB band computation over an exploded (rid, s)
# shingle frame named ``sh`` — module-level so tests can run the EXACT
# same SQL against the pure-Python spec (tests/test_properties.py).
BAND_SQL_TEMPLATE = """
    WITH dg AS (
      SELECT rid, j, md5(j || '|' || s) AS d
      FROM sh, range({n_md5}) t(j)
    ), m AS (
      SELECT rid, j * 4 + k AS i, min(substr(d, k * 8 + 1, 8)) AS h
      FROM dg, range(4) u(k)
      GROUP BY rid, j * 4 + k
    )
    SELECT rid AS {id_col}, CAST(i // 2 AS INT) AS band,
           min(CASE WHEN i % 2 = 0 THEN h END)
           || min(CASE WHEN i % 2 = 1 THEN h END) AS key
    FROM m
    GROUP BY rid, i // 2
"""


def band_rows(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, band, key) LSH band keys, one Arrow kernel riding the scan —
    the same signature construction as queries._minhash_signatures (min
    over word-3-gram shingles of md5(f'{i}|{shingle}') hex), emitted
    directly as the 4 banded key rows. Documents with <3 tokens emit no
    rows (no shingles -> never near-dup by this gate).

    The md5 evaluation is vectorized through an in-worker DuckDB
    connection (single-threaded — Spark already owns one core per
    worker): the spec costs 2 md5 calls per shingle (~2000/doc at 6 KB
    pages; each md5 yields four 32-bit hex-slice permutations), and
    hashlib-in-a-loop plus md5-per-permutation made the gate ~6 ms/doc;
    DuckDB's C md5 over an exploded (doc, shingle) frame with slice
    derivation is ~0.5 ms/doc, byte-identical output.
    tests/test_dedupgate.py::test_band_spec_matches_batch_minhash diffs
    this kernel against the pure-Python batch kernel, so the two
    implementations cross-validate."""
    import re

    import pandas as pd

    sql = BAND_SQL_TEMPLATE.format(n_md5=N_MINHASH // 4, id_col=id_col)

    def kernel(batch_iter, sql=sql):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=1")
        empty = pd.DataFrame(
            {id_col: pd.Series(dtype=object),
             "band": pd.Series(dtype="int32"),
             "key": pd.Series(dtype=object)}
        )

        def run_chunk(rids, shs):
            sh = pd.DataFrame({"rid": rids, "s": shs})  # noqa: F841
            return con.execute(sql).fetchdf()

        for pdf in batch_iter:
            rids: list[str] = []
            shs: list[str] = []
            got_any = False
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                toks = re.split(r"\s+", (text or "").lower())
                if len(toks) < 3:
                    continue
                shingles = set(
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                )
                rids.extend([rid] * len(shingles))
                shs.extend(shingles)
                # bound the exploded frame handed to one DuckDB query
                if len(rids) >= 500_000:
                    yield run_chunk(rids, shs)
                    got_any = True
                    rids, shs = [], []
            if rids:
                yield run_chunk(rids, shs)
                got_any = True
            if not got_any:
                yield empty

    return df.select(id_col, text_col).mapInPandas(
        kernel, schema=f"{id_col} string, band int, key string"
    )


# Broadcast ceiling for the probe's wave-key set: ~80 bytes per
# (band, key) row puts 10M distinct keys around 1 GB of driver/executor
# broadcast — the practical limit.  At 4 band keys/article that bounds
# the BROADCAST probe at wave sizes of ~2.5M articles; beyond it, pass
# probe="bucketed" (or "auto", which counts) to switch to the
# co-located band-index join below.
GATE_BROADCAST_MAX_KEYS = 10_000_000


def _clear_orphan_table_dir(spark, table: str) -> None:
    """A warehouse directory surviving from a previous session while the
    (in-memory) metastore forgot the table makes saveAsTable fail with
    LOCATION_ALREADY_EXISTS — an orphan dir is never valid data for a
    table the catalog doesn't know, so remove it.

    The cleanup is scoped to THIS module's table namespace: with a
    shared warehouse dir (concurrent bench/test sessions, or a
    persistent metastore) an unscoped rmtree could delete another
    session's live data for a table this session merely hasn't
    registered (ADVICE r6) — so an unprefixed name is refused."""
    if not table.lower().startswith("newscrawl_"):
        raise ValueError(
            f"table {table!r} must be named 'newscrawl_*': band-index tables"
            " live in the newscrawl_ warehouse namespace, the only one whose"
            " orphan directories this module may delete"
        )
    if spark.catalog.tableExists(table):
        return
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)


def write_band_index_bucketed(
    bands: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Materialize the persistent band index as a Spark table bucketed
    by (band, key) — the storage layout the bucketed probe needs so the
    10^10-row history joins co-located with ZERO Exchange (the
    bucketing.py fetch-join pattern applied to the gate).  Appending a
    wave's kept bands keeps the bucket spec.  ``table`` must start with
    ``newscrawl_`` (ValueError otherwise)."""
    _clear_orphan_table_dir(bands.sparkSession, table)
    (
        bands.write.bucketBy(n_buckets, "band", "key")
        .sortBy("band", "key")
        .mode("append")
        .format("parquet")
        .saveAsTable(table)
    )


def wave_flags(
    new_articles: DataFrame,
    prior_bands: DataFrame | None,
    sort_col: str = "sort_key",
    probe: str = "broadcast",
    bands_table: str | None = None,
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gate one wave's articles against the persistent index and against
    each other.  ``new_articles`` needs (url, text, sort_col).

    Returns (flags, kept_bands, cached_bands) — cached_bands is the
    persisted band frame both outputs derive from; the caller unpersists
    it once the wave's writes committed.  Output frames:
    - flags(url, matched_url, n_band_hits, scope): articles that near-dup
      a prior-wave canonical (scope=prior_wave) or an earlier-sorted
      article of the SAME wave (scope=same_wave; first-wins by sort_col,
      matching the engine's exact-dedup tie-break). An article matching
      both reports prior_wave (the stronger claim).
    - kept_bands(url, band, key): band rows of the NON-flagged articles —
      what the caller appends to the index.

    Plan shape at scale (``probe="broadcast"``, the default): bands_new
    is one wave (bounded) and broadcasts; the prior index streams
    map-side through a BroadcastHashJoin semi-filter — no Exchange, no
    aggregation touches the unmatched history — and only the matched
    rows are shuffled/aggregated. The same-wave check is a self-join of
    the broadcast-sized frame.  Nothing driver-side.

    Broadcast bound: the wave's distinct (band, key) set must fit a
    broadcast — GATE_BROADCAST_MAX_KEYS (~2.5M articles/wave at 4
    keys each).  Beyond it, ``probe="bucketed"`` keeps the history
    unshuffled a different way: maintain the index as a (band, key)-
    bucketed Spark table (write_band_index_bucketed; pass its name as
    ``bands_table``) and the semi-filter becomes a CO-LOCATED sort-merge
    join — zero Exchange on the history side, plan-asserted by
    tests/test_plans.py.  Without a bands_table the bucketed path
    still produces identical flags but shuffles the prior frame once
    (correct, not the scale plan).  ``probe="auto"`` counts the wave's
    distinct keys (one job over the already-persisted band frame) and
    picks; both paths are output-identical (hypothesis property +
    equivalence tests, tests/test_dedupgate.py)."""
    bands_new = band_rows(new_articles).persist()

    # Fanout bound (the same k^2 hazard as the PageRank chunk self-join,
    # fixed structurally instead of by a cap): both probe arms
    # pre-aggregate to ONE row per (band, key) before the probe join,
    # which preserves the output EXACTLY —
    #   - an article is flagged iff ANY prior/earlier sharer exists,
    #     which is equivalent to "the key's minimal representative is
    #     prior/earlier";
    #   - n_band_hits counts DISTINCT matching keys, not sharers;
    #   - matched_url is the minimal sharer, which is the key minimum.
    # So k docs sharing one boilerplate key cost k rows, never k^2.
    #
    # ORDER MATTERS at scale: semi-filter FIRST, aggregate SECOND.  The
    # BroadcastHashJoin against the wave's distinct keys runs map-side
    # over the accreting index (no shuffle of the 10^10-row side); the
    # groupBy then only sees the matched rows, bounded by the wave's
    # keys x their sharers.  Aggregating before filtering (the r4 shape)
    # would hash-shuffle the ENTIRE history every wave.  Output is
    # identical either way: min over all prior holders of a shared key
    # == min over the sharers of that key.
    if prior_bands is not None:
        new_keys = bands_new.select("band", "key").distinct()
        mode = probe
        if mode == "auto":
            mode = (
                "broadcast"
                if new_keys.count() <= GATE_BROADCAST_MAX_KEYS
                else "bucketed"
            )
        if mode == "broadcast":
            prior = prior_bands.select("url", "band", "key")
            matched_prior = prior.join(F.broadcast(new_keys), ["band", "key"])
        elif mode == "bucketed":
            # beyond the broadcast bound: write THIS WAVE's key set
            # bucketed by (band, key); against a bands_table maintained
            # with the same bucket spec the semi-filter plans as a
            # co-located sort-merge join — the history side scans
            # straight into the join, no Exchange
            spark = bands_new.sparkSession
            import hashlib as _hl

            keys_table = (
                "newscrawl_gate_keys_"
                + _hl.md5(
                    (bands_table or "adhoc").encode("utf-8")
                ).hexdigest()[:10]
            )
            _clear_orphan_table_dir(spark, keys_table)
            (
                new_keys.write.bucketBy(n_buckets, "band", "key")
                .sortBy("band", "key")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(keys_table)
            )
            prior = (
                spark.table(bands_table)
                if bands_table is not None
                else prior_bands
            ).select("url", "band", "key")
            matched_prior = prior.join(
                spark.table(keys_table), ["band", "key"]
            )
        else:
            raise ValueError(f"unknown probe mode {probe!r}")
        prior_keys = matched_prior.groupBy("band", "key").agg(
            F.min("url").alias("_purl")
        )
        # join the (wave-key-bounded) prior representatives back to the
        # wave's band rows: broadcast-sized in broadcast mode; in
        # bucketed mode both sides are wave-bounded, so a plain
        # shuffle join on (band, key) is the right plan
        _new_side = bands_new.select(F.col("url").alias("_nurl"), "band", "key")
        if mode == "broadcast":
            _new_side = F.broadcast(_new_side)
        hits_prior = (
            prior_keys.join(_new_side, ["band", "key"])
            .groupBy(F.col("_nurl").alias("url"))
            .agg(
                F.min("_purl").alias("matched_url"),
                F.count("*").alias("n_band_hits"),
            )
            .withColumn("scope", F.lit("prior_wave"))
        )
    else:
        hits_prior = None

    # same-wave: an article is flagged iff an EARLIER-sorted article of
    # this wave shares a band key (first-wins — the earliest article in
    # crawl order is the canonical one and is never flagged by this
    # arm).  Per (band, key) only the MINIMAL (sort, url) representative
    # is joined back: b shares a key with an earlier article iff the
    # key's earliest holder sorts before b.
    order = new_articles.select("url", F.col(sort_col).alias("_sk"))
    keyed = bands_new.join(order, "url")
    key_min = keyed.groupBy("band", "key").agg(
        F.min(F.struct(F.col("_sk").alias("_ask"), F.col("url").alias("_aurl"))).alias("_m")
    ).select("band", "key", F.col("_m._ask").alias("_ask"), F.col("_m._aurl").alias("_aurl"))
    # strict ordering on the FULL (sort_key, url) tuple — two near-dups
    # sharing an identical sort_key must still flag the later url (the
    # representative is chosen by the same tuple order, so a bare
    # _ask < _sk comparison would let both survive)
    hits_same = (
        keyed.join(key_min, ["band", "key"])
        .filter(
            F.struct(F.col("_ask"), F.col("_aurl"))
            < F.struct(F.col("_sk").alias("_ask"), F.col("url").alias("_aurl"))
        )
        .groupBy("url")
        .agg(
            F.min(F.struct("_ask", "_aurl")).getField("_aurl").alias(
                "matched_url"
            ),
            F.count("*").alias("n_band_hits"),
        )
        .withColumn("scope", F.lit("same_wave"))
    )
    # transitive same-wave chains resolve to the FIRST article only as
    # canonical is defined per pair; an article flagged via a flagged
    # intermediate stays flagged (greedy keep-first, same spec as
    # queries.q_semantic_dedup)

    both = (
        hits_same
        if hits_prior is None
        else hits_prior.unionByName(hits_same)
    )
    w = W.partitionBy("url").orderBy(
        # prior_wave outranks same_wave; then the earliest match
        F.when(F.col("scope") == "prior_wave", 0).otherwise(1),
        "matched_url",
    )
    # flags is persisted because BOTH gate outputs traverse it (the
    # flag-table write directly, the band append via the anti-join) —
    # two concurrent writes racing an unfilled cache would each re-run
    # the probe joins and the first-wins window. Bounded: one row per
    # flagged article of ONE wave. The caller unpersists it with
    # cached_bands after the wave's writes commit.
    flags = (
        both.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    ).persist()
    kept_bands = bands_new.join(
        flags.select("url"), "url", "left_anti"
    )
    return flags, kept_bands, bands_new
