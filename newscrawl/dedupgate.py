"""Incremental near-duplicate gate: a persistent MinHash-LSH band index.

The batch dedup operators (queries.q_minhash_lsh_candidates and friends)
compare a corpus against itself.  A crawl doesn't have that luxury: every
wave must ask "is this article a near-duplicate of ANYTHING crawled
before?" without re-scanning history.  The production shape is an
accreting LSH index — this module implements it over the wave catalog:

- every kept article contributes its 4 band keys (8 minhash
  permutations — the four 32-bit hex slices of two md5 evaluations per
  word-3-gram shingle — banded 4x2) to the ``minhash_bands`` table,
  committed atomically with the wave.  One per-batch kernel
  (batch_bands) computes the keys for the crawl and the batch
  operators alike, so the two agree by construction: a gated crawl
  wave runs it inside the extract pass (extract.make_extract_kernel(
  bands=True) emits a ``bands`` array column, posexploded off the
  wave's extract cache), and band_rows runs it over any text frame —
  the registry's MinHash-LSH queries call it through
  queries._minhash_bands;
- the next wave probes the table in ONE earliest-holder pass: a
  broadcast semi-filter FIRST — the historical index, the 10^10-row
  side at web scale, streams map-side through a BroadcastHashJoin
  against the wave's (band, key) rows and never shuffles — then one
  window per (band, key) over the matched history (rank 0) and the
  wave's rows (rank 1, with their crawl sort key) finds each key's
  earliest holder, and one groupBy per url turns the wave rows whose
  key has an earlier holder into flags.  A prior-wave canonical
  outranks any wave article; within the wave, first-wins by the crawl
  sort key (the same tie-break as the engine's exact first-wins dedup);
- ``flag`` mode records decisions in ``near_dup_flags``; ``drop`` mode
  additionally withholds flagged articles from the articles sink (their
  bands are NOT indexed — the index holds canonical documents only).

Reference parity note: the reference crawler has no near-dup concept at
all (exact url-seen only, lib/repositories/link_pool_repository.py) —
this is one of the training-data-pipeline capabilities layered on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

N_MINHASH = 8  # 4 bands x 2 rows
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


# bound on the exploded (doc, shingle) frame handed to one DuckDB query
_BAND_CHUNK_ROWS = 500_000


def band_connection():
    """The in-worker DuckDB connection the band kernel runs on —
    single-threaded, because Spark already owns one core per worker."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    return con


def batch_bands(con, ids, texts, id_col: str = "rid"):
    """The band kernel over ONE Arrow batch: yields pandas frames of
    (id_col, band, key) rows, the 4 band keys of every document with >= 3
    tokens (fewer tokens -> no shingles -> no rows).

    The spec is word-3-gram shingles of ``re.split(r"\\s+",
    text.lower())``, min over shingles of md5(f'{i}|{shingle}') hex
    slices, banded 4x2 — written out independently as the registry's
    DuckDB oracle SQL (queries._minhash_sql_ctes) and as the tests'
    pure-Python twin (tests/test_properties.py).  The md5 evaluation
    runs in DuckDB over the exploded (doc, shingle) frame
    (BAND_SQL_TEMPLATE): 2 md5 calls per shingle, each yielding four
    32-bit hex-slice permutations.  band_rows and the gated extract
    kernel (extract.make_extract_kernel(bands=True)) both call this
    function, so the engine has one band implementation."""
    import re

    import pandas as pd

    sql = BAND_SQL_TEMPLATE.format(n_md5=N_MINHASH // 4, id_col=id_col)

    def run_chunk(rids, shs):
        sh = pd.DataFrame({"rid": rids, "s": shs})  # noqa: F841
        return con.execute(sql).fetchdf()

    rids: list = []
    shs: list[str] = []
    for rid, text in zip(ids, texts):
        toks = re.split(r"\s+", (text or "").lower())
        if len(toks) < 3:
            continue
        shingles = set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
        rids.extend([rid] * len(shingles))
        shs.extend(shingles)
        if len(rids) >= _BAND_CHUNK_ROWS:
            yield run_chunk(rids, shs)
            rids, shs = [], []
    if rids:
        yield run_chunk(rids, shs)


def band_rows(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, band, key) LSH band keys of a text frame, one Arrow kernel
    riding the scan (batch_bands per batch).  Documents with <3 tokens
    emit no rows (no shingles -> never near-dup by this gate).  The id
    column keeps its input type (the crawl's url strings, the
    registry's bigint doc_ids).

    The crawl's gated waves do not call this: their extract kernel emits
    the same keys as a ``bands`` column in the extract pass itself, and
    run_wave posexplodes them.  band_rows serves text-only callers: the
    registry's MinHash-LSH queries (queries._minhash_bands), wave_flags
    without ``bands``, the benchmark's layer replay and tests.
    tests/test_dedupgate.py::test_band_spec_matches_batch_minhash diffs
    it against the pure-Python spec, and
    ::test_extract_bands_match_band_rows diffs the extract column
    against it."""
    import pandas as pd

    def kernel(batch_iter):
        con = band_connection()
        got_any = False
        for pdf in batch_iter:
            for out in batch_bands(con, pdf[id_col], pdf[text_col], id_col):
                got_any = True
                yield out
        if not got_any:
            yield pd.DataFrame(
                {id_col: pd.Series(dtype=object),
                 "band": pd.Series(dtype="int32"),
                 "key": pd.Series(dtype=object)}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, band int, key string"
    )


# Broadcast ceiling for the probe's wave-key set: ~80 bytes per
# (band, key) row puts 10M distinct keys around 1 GB of driver/executor
# broadcast — the practical limit (the broadcast ships the wave's band
# rows; a key repeats there only across a wave's own near-dups).  At 4
# band keys/article that bounds the BROADCAST probe at wave sizes of
# ~2.5M articles; beyond it, pass probe="bucketed" (or "auto", which
# counts) to switch to the co-located band-index join below.
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
    bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gate one wave's articles against the persistent index and against
    each other.  The wave's band keys come from one of two places:
    - ``new_articles`` (url, text, sort_col): band_rows computes them
      here and the frame is persisted (the text-only path);
    - ``bands`` (url, band, key, sort_col): precomputed rows, e.g. the
      gated extract kernel's ``bands`` column posexploded off the
      wave's extract cache (run_wave).  ``new_articles`` is then unused
      and may be None; the rows already carry their sort key, so the
      probe needs no (url -> sort key) join, and nothing is persisted
      here.
    ``probe`` must be "broadcast", "bucketed" or "auto" (ValueError
    otherwise, checked before any Spark work).

    Returns (flags, kept_bands, band_frame) — band_frame is the band
    frame both outputs derive from (persisted on the text path); the
    caller unpersists it, and flags, once the wave's writes committed.
    Output frames:
    - flags(url, matched_url, n_band_hits, scope): articles that near-dup
      a prior-wave canonical (scope=prior_wave) or an earlier-sorted
      article of the SAME wave (scope=same_wave; first-wins by sort_col,
      matching the engine's exact-dedup tie-break). An article matching
      both reports prior_wave (the stronger claim).
    - kept_bands(url, band, key): band rows of the NON-flagged articles —
      what the caller appends to the index.

    Plan shape at scale (``probe="broadcast"``, the default): the
    wave's (band, key) rows (one wave, bounded) broadcast; the prior
    index streams map-side through a BroadcastHashJoin left-semi filter
    — no Exchange, no aggregation touches the unmatched history.  The
    matched rows and the wave's rows then take one hash exchange on
    (band, key) for the earliest-holder window and one on url for the
    per-article aggregate: with ``bands``, two shuffles and one join in
    all (tests/test_plans.py).  Nothing driver-side.

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
    if probe not in ("broadcast", "bucketed", "auto"):
        raise ValueError(f"unknown probe mode {probe!r}")
    if bands is None:
        bands_new = band_rows(new_articles).persist()
        keyed = bands_new.join(
            new_articles.select("url", F.col(sort_col).alias("_sk")), "url"
        )
    else:
        bands_new = bands.select("url", "band", "key")
        keyed = bands.select("url", "band", "key", F.col(sort_col).alias("_sk"))

    # One question per (band, key): who is its earliest holder?  Holders
    # are ranked (rank, sort key, url): every prior-wave canonical (rank
    # 0, null sort key) outranks every wave article (rank 1), so a wave
    # row is flagged iff its key's minimum sorts strictly before its own
    # (rank, sort key, url) — a prior holder, or an EARLIER article of
    # this wave (first-wins by the full (sort key, url) tuple, the
    # engine's exact-dedup tie-break: two near-dups with an identical
    # sort key still flag the later url).
    #
    # ORDER MATTERS at scale: semi-filter FIRST, rank SECOND.  The
    # BroadcastHashJoin against the wave's (band, key) rows runs
    # map-side over the accreting index (no shuffle of the 10^10-row
    # side); the window then only sees the matched history, bounded by
    # the wave's keys x their sharers.
    #
    # Fanout bound (the k^2 hazard of the PageRank chunk self-join,
    # fixed structurally): each holder of a (band, key) is ONE row of
    # its rank, and the key's minimum is a window aggregate over those
    # rows, not a pairwise join — k docs sharing one boilerplate key
    # cost k rows, never k^2.
    def ranked(df: DataFrame, rank: int, sk) -> DataFrame:
        holder = F.struct(F.lit(rank).alias("r"), sk.alias("sk"), F.col("url").alias("u"))
        return df.select("url", "band", "key", holder.alias("_h"))

    holders = ranked(keyed, 1, F.col("_sk"))
    if prior_bands is not None:
        mode = probe
        if mode != "broadcast":
            new_keys = bands_new.select("band", "key").distinct()
        if mode == "auto":
            mode = (
                "broadcast"
                if new_keys.count() <= GATE_BROADCAST_MAX_KEYS
                else "bucketed"
            )
        if mode == "broadcast":
            prior = prior_bands.select("url", "band", "key")
            wave_keys = F.broadcast(bands_new.select("band", "key"))
        else:
            # beyond the broadcast bound: write THIS WAVE's key set
            # bucketed by (band, key); against a bands_table maintained
            # with the same bucket spec the semi-filter plans as a
            # co-located sort-merge join — the history side scans
            # straight into the join, no Exchange.  The merge hint keeps
            # that plan when the key table's file size would otherwise
            # auto-broadcast it.
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
            wave_keys = spark.table(keys_table).hint("merge")
        matched_prior = prior.join(wave_keys, ["band", "key"], "left_semi")
        no_sk = F.lit(None).cast(keyed.schema["_sk"].dataType)
        holders = ranked(matched_prior, 0, no_sk).unionByName(holders)

    hits = holders.withColumn(
        "_m", F.min("_h").over(W.partitionBy("band", "key"))
    ).filter((F.col("_h.r") == 1) & (F.col("_m") < F.col("_h")))
    # per article: its earliest match overall (a prior holder whenever
    # there is one — prior_wave outranks same_wave), and n_band_hits =
    # its DISTINCT matching keys of that scope.  Transitive same-wave
    # chains stay flagged (greedy keep-first, same spec as
    # queries.q_semantic_dedup).
    # flags is persisted because BOTH gate outputs traverse it (the
    # flag-table write directly, the band append via the anti-join), so
    # the probe runs once when the two writes run in that order
    # (run_wave: one pool task). Bounded: one row per flagged article of
    # ONE wave. The caller unpersists it after the wave's writes commit.
    flags = (
        hits.groupBy("url")
        .agg(
            F.min("_m").getField("u").alias("matched_url"),
            F.count(F.when(F.col("_m.r") == 0, 1)).alias("_n0"),
            F.count("*").alias("_n"),
        )
        .select(
            "url",
            "matched_url",
            F.when(F.col("_n0") > 0, F.col("_n0"))
            .otherwise(F.col("_n"))
            .alias("n_band_hits"),
            F.when(F.col("_n0") > 0, F.lit("prior_wave"))
            .otherwise(F.lit("same_wave"))
            .alias("scope"),
        )
    ).persist()
    kept_bands = bands_new.join(
        flags.select("url"), "url", "left_anti"
    )
    return flags, kept_bands, bands_new
