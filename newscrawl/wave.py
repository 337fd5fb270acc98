"""One crawl wave as a declarative DataFrame plan, plus the multi-wave loop.

Plan per wave (SURVEY.md §3.2 Spark lifecycle), replacing the
reference's sequential scrape loop (/root/reference/ingest/
get_all_articles.py:6-19 + classifier.py:194-320):

    _plan_fetch (no Spark action; the bucketed fetch path's candidate
    write aside):
    frontier snapshot
      -> sort_key + first-wins dedup           (Window, F2)
      -> bloom-prefiltered exact seen anti-join (J1/F1)
      -> robots filter + per-host budget gate   (north-rule additions;
                                                 no-ops in reference mode)
      -> pages scan ⋈ broadcast(candidates)     (the "fetch"; J4 —
         html never shuffles; pages_table= switches to the bucketed
         co-located zero-Exchange variant, bucketing.py)
      -> narrow coalesce to one partition per core (no Exchange: the
         wave's extract cache and every job over it run at host width)
      -> mapInPandas extract, html dropped in-scan (S14, P8, F4 +
         per-page text analysis + the classify stage: topic/sentiment/
         summary/entities, reference classifier.py:232-277; with the
         near-dup gate on, also each page's MinHash band keys)
      -> persisted once: candidates, unseen (the budget gate's input,
         shared by kept and deferred), kept, extract output
    _plan_outputs (no Spark action):
      -> split: articles Δ | seen Δ | carry (fetch-fail or <100 chars,
               retried next wave) | child frontier rows | host_state
      -> near-dup gate (dedupgate.py): band rows posexploded off the
         extract cache; one earliest-holder pass per (band, key) over
         the semi-filtered band index and the wave's rows (first-wins
         within the wave); flags persisted; drop mode anti-joins the
         articles on them
      -> quality sink gate (below-threshold articles to quality_flags)
    _commit_wave:
      -> ONE fused articles write in every gate mode: the job that
         fills the extract cache (and, in drop mode, the flags cache)
         writes the articles Δ
      -> atomic multi-table commit, output jobs submitted concurrently
         (frontier overwrite, seen/articles/metrics append, bloom
         shards overwrite, one task writing near_dup_flags then
         minhash_bands; delta writes coalesced, zstd)

Crash anywhere before commit leaves state untouched; re-running the wave
is idempotent (the driver loop resumes from the snapshot's wave index).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from . import extract as ex
from . import (
    bucketing,
    canonicalize,
    dedupgate,
    multimodal,
    politeness,
    priority,
    seenset,
    synth,
    webhook,
)
from .reference_oracle import wave_id_for
from .schema import (
    ARTICLES,
    BLOOM_SHARDS,
    CUCKOO_SPILL,
    FRONTIER,
    HOST_STATE,
    MEDIA_FEATURES,
    MINHASH_BANDS,
    NEAR_DUP_FLAGS,
    QUALITY_FLAGS,
    SEEN,
    WAVE_METRICS,
)
from .storage import ManifestParquetCatalog

FRONTIER_COLS = [f.name for f in FRONTIER.fields]


def _target_file_bytes() -> int:
    """Target parquet file size for wave delta writes (default 128 MiB —
    the standard HDFS-block-aligned choice).  Env-overridable so tests
    can exercise the rows->file-count scaling at tiny corpus sizes."""
    return int(
        float(os.environ.get("NEWSCRAWL_TARGET_FILE_MB", "128")) * (1 << 20)
    )


# Delta write width. The extract stage runs one partition per core, but
# writing one file per core for a KB-scale delta piles up tiny files
# wave over wave and every later state read pays for it (the classic
# small-files problem). Narrow only the write side.
# Width per table = estimated delta bytes / target file size, with
# bytes/row taken from the catalog's manifest stats (all waves so far) —
# so a 10x-bigger wave writes ~10x the files instead of a constant
# count, and file sizes stay near the target at any wave size. A delta
# smaller than one target file writes ONE file — the r5 scaling residue
# showed the frontier write taking 3.09 s at 32 CPUs for a 1.6 MB delta
# purely from multi-file task scheduling (and getting SLOWER with more
# cores); KB-to-MB state deltas have nothing to parallelize. First wave
# (no stats yet) estimates with a conservative bytes/row instead of a
# core-derived constant, for the same reason.
_FALLBACK_BYTES_PER_ROW = 256
# width derives from the MINIMUM acceptable file size, not the target:
# the write is zstd-compression-bound, so subject to "no file smaller
# than ~16 MB" it should use as MANY cores as possible (a 1.27 GB
# articles delta on 2-10 of 32 cores leaves most compressors idle —
# measured 25 s vs ~4 s full-width). Files land between 16 MB and
# ~1 GB; compact() bin-packs them toward the target later. Also the
# safety margin for the bytes ESTIMATE: bytes/row observed on a tiny
# seed wave ran 5x under the big-wave reality, and a min-size divisor
# over-widens gracefully where a target-size divisor serialized the
# write.
_MIN_FILE_BYTES = 16 << 20
# deltas at or below this may SHUFFLE into their write tasks
# (repartition keeps the upstream derivation wide); anything bigger must
# coalesce — repartitioning GB-scale article text re-copies the whole
# data plane (measured: the 32-CPU articles write went 6.9 s -> 40.8 s
# when it briefly took the repartition path).
_SMALL_DELTA_BYTES = 64 << 20
# fused articles write: above this estimated delta it runs at full
# width, so the extract stage it carries keeps every core (ADVICE r6);
# below it, at the planned width
_FUSED_FLOOR_BYTES = 256 << 10


def write_plan(stats: dict, n_rows_est: int, cores: int) -> tuple[int, float]:
    """(width, estimated bytes) of a delta of ``n_rows_est`` rows into a
    table with manifest stats ``stats`` (catalog.table_stats)."""
    rows = stats.get("rows", 0)
    nbytes = sum(f.get("bytes", 0) for f in stats.get("files", []))
    bpr = (nbytes / rows) if rows and nbytes else _FALLBACK_BYTES_PER_ROW
    est_bytes = n_rows_est * bpr
    # honor an explicitly-small NEWSCRAWL_TARGET_FILE_MB (tests and
    # tiny-state tables); otherwise divide by the min size
    divisor = min(_target_file_bytes(), _MIN_FILE_BYTES)
    return min(max(1, math.ceil(est_bytes / divisor)), cores), est_bytes


def narrowed(
    df: DataFrame, width: int, cores: int, est_bytes: float | None = None
) -> DataFrame:
    # HOW to narrow matters as much as the width: coalesce(w) collapses
    # the whole UPSTREAM computation (one partition per core off the
    # extract cache) to w tasks (a 1-file frontier write would derive
    # carry+children on one core — the serialization measured at
    # 1.2-1.6 s/wave), while repartition keeps the derivation wide and
    # shuffles only the KB-to-MB delta into w write tasks. The shuffle
    # is ONLY for provably small deltas narrowed below half the cores:
    # big frames always coalesce (no shuffle of big bytes — the articles
    # write at scale).
    if est_bytes is not None and est_bytes <= _SMALL_DELTA_BYTES and width < cores // 2:
        return df.repartition(width)
    return df.coalesce(width)


def write_narrowed(df: DataFrame, stats: dict, n_rows_est: int, cores: int) -> DataFrame:
    width, est_bytes = write_plan(stats, n_rows_est, cores)
    return narrowed(df, width, cores, est_bytes)


def fused_width(stats: dict, n_rows_est: int, cores: int) -> int:
    """Width of the fused articles write. It carries the extract stage,
    so it runs at every core (coalesce must not narrow the computation
    this write carries; compact() bin-packs the files later) and never
    repartitions (that would shuffle the whole data plane). GENUINELY
    tiny waves (KB deltas below _FUSED_FLOOR_BYTES — golden/test crawls)
    keep the planned width, one file at the default target, where
    multi-file task scheduling costs more than it saves (the r5
    inverse-scaling residue)."""
    width, est_bytes = write_plan(stats, n_rows_est, cores)
    return cores if est_bytes >= _FUSED_FLOOR_BYTES else width


def init_crawl(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    seeds: DataFrame,
    host_state_seed: DataFrame | None = None,
) -> None:
    """Commit the seed frontier as snapshot 0 (wave_index=-1). An
    optional host_state seed carries per-host budgets / news scores for
    the scaled scheduler (recency fills in as waves run)."""
    commit = catalog.begin()
    commit.write("frontier", priority.seed_ord(seeds).select(*FRONTIER_COLS), mode="overwrite")
    if host_state_seed is not None:
        commit.write(
            "host_state",
            host_state_seed.select(*[f.name for f in HOST_STATE.fields]),
            mode="overwrite",
        )
    commit.commit(wave_id="init", wave_index=-1)


def _load_bloom(spark: SparkSession, catalog: ManifestParquetCatalog) -> seenset.BloomShardSet | None:
    # driver-side pyarrow read: the accelerator tables are bounded
    # (shards x window rows) and a Spark collect costs a job per wave
    rows = catalog.read_rows("bloom_shards", ["shard", "bitmap", "n_items"])
    if not rows:
        return None
    return seenset.BloomShardSet.from_rows([(r.shard, r.bitmap, r.n_items) for r in rows])


# Waves covered by the DELETABLE cuckoo tier instead of the immutable
# bloom: a rollback within this window removes those waves' accelerator
# entries with their snapshots (blooms cannot un-merge). The leaving
# wave's delta folds into the bloom via the manifest's per-wave file
# lineage — one bounded delta read, never a seen-table rescan.
SPILL_WAVES = 2


def _load_spill_rows(spark: SparkSession, catalog: ManifestParquetCatalog) -> list:
    """The spill window's raw rows: cuckoo blobs (prefilter tier) plus
    each wave's precomputed bloom bitmaps (the fold input)."""
    return catalog.read_rows(
        "cuckoo_spill",
        ["wave_index", "shard", "bitmap", "bloom_bitmap", "n_items"],
    )


def _spill_set(rows: list) -> "seenset.CuckooShardSet | None":
    if not rows:
        return None
    return seenset.CuckooShardSet.from_rows(
        [(r.wave_index, r.shard, r.bitmap, r.n_items) for r in rows]
    )


def _load_spill(spark: SparkSession, catalog: ManifestParquetCatalog) -> "seenset.CuckooShardSet | None":
    return _spill_set(_load_spill_rows(spark, catalog))


def _check_modes(scheduler: str, dedup_gate: str | None, budget) -> None:
    """ValueError for a mode string the wave would otherwise read as
    its default (a misspelt gate as flag mode, a misspelt scheduler as
    reference), and for an int budget below 1 (every candidate would be
    deferred: the frontier never drains and no wave commits an article).
    A per-host budget table is not checked here."""
    if scheduler not in ("reference", "scaled"):
        raise ValueError(f"unknown scheduler {scheduler!r}")
    if dedup_gate not in (None, "flag", "drop"):
        raise ValueError(f"unknown dedup_gate mode {dedup_gate!r}")
    if isinstance(budget, int) and budget < 1:
        raise ValueError(f"budget must be at least 1, got {budget}")


class _Clock:
    """``NEWSCRAWL_TIMING`` per-phase wall times, one ``[wid] label: Ns``
    line each (bench.py parses the labels)."""

    def __init__(self, wid: str):
        self.wid = wid
        self.on = bool(os.environ.get("NEWSCRAWL_TIMING"))
        self.t = time.perf_counter()

    def tick(self, label: str) -> None:
        if self.on:
            now = time.perf_counter()
            print(f"[{self.wid}] {label}: {now - self.t:.2f}s", flush=True)
            self.t = now

    def write(self, commit, table: str, df: DataFrame, mode: str) -> int:
        # per-write wall time + bytes, the evidence behind the
        # commit-residue decomposition in BENCH/BASELINE.md (pool tasks
        # run concurrently — the pool's wall time is the MAX of these,
        # not the sum)
        t0 = time.perf_counter()
        rows = commit.write(table, df, mode)
        if self.on:
            nbytes = sum(
                f["bytes"] for t, _m, fs, _r in commit._writes if t == table for f in fs
            )
            print(
                f"[{self.wid}] write:{table}: {time.perf_counter() - t0:.2f}s "
                f"rows={rows} bytes={nbytes}",
                flush=True,
            )
        return rows

    def job(self, label: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        if self.on:
            print(f"[{self.wid}] job:{label}: {time.perf_counter() - t0:.2f}s", flush=True)
        return out


def _cand_table(catalog: ManifestParquetCatalog) -> str:
    """The bucketed fetch path's candidate table, one per catalog."""
    return "newscrawl_cand_" + hashlib.md5(catalog.root.encode("utf-8")).hexdigest()[:10]


def _n_candidates(obs: Observation, cands: DataFrame) -> int:
    # the extract materialization has executed the observed node by the
    # time metrics are read; the bounded wait + counted fallback only
    # guards a future re-ordering of the wave's jobs
    box = {}

    def _get():
        try:
            box["v"] = obs.get
        except Exception:
            # metrics can be unavailable or unconvertible (seen:
            # toPyRow assertion on an empty gated wave) — leave the box
            # empty so the counted fallback below answers
            pass

    t = threading.Thread(target=_get, daemon=True)
    t.start()
    t.join(10.0)
    return int(box["v"]["n"]) if "v" in box else cands.count()


def compute_stats(extracted: DataFrame) -> list:
    """Metrics (A1-A3 analogs) in ONE aggregation job over the persisted
    wave output: per-source yielded counts (count-desc, first-seen
    tie-break — reference Counter.most_common, classifier.py:295-307),
    skip counts, and outlink counts."""
    return (
        extracted.groupBy("source")
        .agg(
            F.count(F.when(F.col("yielded"), 1)).alias("n"),
            F.count(F.when(F.col("yielded") & F.col("skip"), 1)).alias("n_skip"),
            F.sum(
                F.when(F.col("yielded"), F.size("outlinks")).otherwise(F.lit(0))
            ).alias("n_out"),
            F.count(F.when(~F.col("yielded"), 1)).alias("n_fail"),
            F.min(F.when(F.col("yielded"), F.col(priority.SORT_KEY))).alias(
                "first_seen"
            ),
        )
        .collect()
    )


def compute_dims(classified: DataFrame) -> list:
    """Per-wave topic/sentiment distributions (reference
    classifier.py:295-318) in ONE aggregation job over the enriched
    articles: both dimensions explode into (kind, label) rows so a
    single groupBy covers them; min(_sk) is the first-seen tie-break
    (Counter.most_common ties = insertion order = crawl order of the
    first article with that label)."""
    return (
        classified.select(
            F.col(priority.SORT_KEY).alias("_sk"),
            F.explode(
                F.array(
                    F.struct(F.lit("topic").alias("kind"), F.col("topic").alias("label")),
                    F.struct(
                        F.lit("sentiment").alias("kind"),
                        F.col("sentiment_label").alias("label"),
                    ),
                )
            ).alias("d"),
        )
        .select("d.kind", "d.label", "_sk")
        .groupBy("kind", "label")
        .agg(F.count("*").alias("n"), F.min("_sk").alias("first_seen"))
        .collect()
    )


def dim_dist(dim_rows: list, kind: str, n_articles: int) -> str:
    # percentage of total classified (= n_articles), count-desc with
    # first-seen tie-break — classifier.py:295-307
    rows = [r for r in dim_rows if r.kind == kind]
    return json.dumps(
        [
            {
                "label": r.label,
                "count": r.n,
                "percentage": round(100.0 * r.n / n_articles, 2) if n_articles else 0.0,
            }
            for r in sorted(rows, key=lambda r: (-r.n, r.first_seen))
        ]
    )


def _plan_fetch(
    spark, catalog, pages, clock, held, *, min_text_chars, budget, robots,
    use_bloom, scheduler, pages_table, fetch_buckets, enrich_fn, dedup_gate,
    dedup_captures,
) -> SimpleNamespace:
    """Frontier read through the persisted ``extracted`` frame. Runs no
    Spark action (but the bucketed path's candidate write); every frame
    it persists goes onto ``held``."""
    frontier = catalog.read(spark, "frontier", FRONTIER)
    seen = catalog.read(spark, "seen", SEEN).filter(F.col("is_processed"))
    if scheduler == "scaled":
        host_state = catalog.read(spark, "host_state", HOST_STATE)
        keyed = politeness.scaled_priority_key(frontier, host_state)
    else:
        host_state = None
        keyed = priority.with_sort_key(frontier)
    cands = priority.first_wins_dedup(keyed)
    # shard/bloom key = hash of the CANONICAL url (equivalent spellings
    # co-locate); membership equality stays exact on the raw url
    cands = cands.withColumn("url_hash", canonicalize.canonical_hash("url"))
    # n_candidates rides the extract job as an observed metric instead
    # of a dedicated count: the count was a standalone job whose fixed
    # scheduling cost got WORSE with more cores (1.61 s @ 8 CPUs ->
    # 2.30 s @ 32 in the r5 scaling residue) while the extract job
    # traverses cands anyway (broadcast build of the kept candidates
    # fills the cache and fires the observation — verified incl. the
    # cached-frame + broadcast-subtree case).
    cand_obs = Observation(f"n_candidates_{clock.wid}")
    cands = cands.observe(cand_obs, F.count(F.lit(1)).alias("n"))
    held.append(cands.persist())
    clock.tick("dedup(plan)")

    bloom = _load_bloom(spark, catalog) if use_bloom else None
    spill_rows = _load_spill_rows(spark, catalog) if use_bloom else []
    clock.tick("bloom_load")
    unseen = seenset.antijoin_unseen(cands, seen, bloom, _spill_set(spill_rows))
    unseen = politeness.robots_filter(unseen, robots)
    if budget is not None:
        # kept (the fetch side) and deferred (the frontier write's carry)
        # both derive from the budget gate's input: cache it once, or the
        # frontier write re-runs the bloom kernel and the exact anti-join
        held.append(unseen.persist())

    kept, deferred = politeness.budget_gate(unseen, budget)
    held.append(kept.persist())

    # the "fetch": frontier x pages on raw url. Physical strategy for a
    # page corpus orders of magnitude bigger than the wave's candidates:
    # broadcast the candidate rows into the pages scan (map-side hash
    # join) and extract IMMEDIATELY — html is consumed and dropped
    # inside the scan-side pandas UDF, and the extracted text inherits
    # the frontier metadata in place, so NEITHER the raw bytes NOR the
    # text ever shuffle. One driver-built broadcast per wave is the
    # price; at a frontier too large to broadcast, swap this join for a
    # url_hash-bucketed co-located sort-merge (one localized change).
    # broadcast only the six frontier columns; sort_key and url_hash are
    # deterministic projections, recomputed JVM-side after extraction —
    # ~25% less broadcast payload per wave
    if pages_table is not None:
        # bucketed co-located path: shuffle ONLY the slim candidates
        # (one bucketed write per wave); the sort-merge join against the
        # identically-bucketed pages table plans zero Exchange on the
        # pages side, so html never moves even at frontier sizes far
        # beyond any broadcast threshold
        bucketing.write_bucketed(
            kept.select(*FRONTIER_COLS), _cand_table(catalog), fetch_buckets
        )
        fetched = spark.table(pages_table).select("url", "warc_ts", "html").join(
            spark.table(_cand_table(catalog)), "url", "inner"
        )
    else:
        fetched = pages.select("url", "warc_ts", "html").join(
            F.broadcast(kept.select(*FRONTIER_COLS)), "url", "inner"
        )
    # one extract partition per core, not one per pages-scan split: the
    # wave's extract output is small, and the cache it fills feeds every
    # later job of the wave (the fused articles write, frontier, seen,
    # the gate writes, stats), each paying a fixed cost per task. A
    # narrow coalesce plans no Exchange, so html still never moves.
    fetched = fetched.coalesce(spark.sparkContext.defaultParallelism)
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in fetched.schema.fields
        if f.name != "html"
    )
    out_ddl = f"{in_ddl}, {ex.EXTRACT_COLUMNS}"
    if dedup_gate:
        # the near-dup gate's band keys come out of this same pass
        kernel = ex.make_extract_kernel(enrich_fn, bands=True)
        out_ddl += f", {ex.BANDS_COLUMN}"
    elif enrich_fn is not None:
        kernel = ex.make_extract_kernel(enrich_fn)
    else:
        kernel = ex.extract_pages
    ext_raw = fetched.mapInPandas(kernel, schema=out_ddl)
    # re-key with the SAME scheduler that ordered the candidates (the
    # broadcast carries only the six frontier columns; the key is a
    # deterministic projection, so recomputation equals selection)
    if scheduler == "scaled":
        ext_keyed = politeness.scaled_priority_key(ext_raw, host_state).drop("host")
    else:
        ext_keyed = priority.with_sort_key(ext_raw)
    if dedup_captures:
        # latest capture per url wins (see run_wave); html is already
        # consumed, so this windows over slim extracted rows only
        cw = Window.partitionBy("url").orderBy(
            F.col("warc_ts").desc(), F.col("fingerprint")
        )
        ext_keyed = (
            ext_keyed.withColumn("_cap_rn", F.row_number().over(cw))
            .filter(F.col("_cap_rn") == 1)
            .drop("_cap_rn")
        )
    extracted = ext_keyed.withColumn(
        "url_hash", canonicalize.canonical_hash("url")
    ).withColumn(
        "yielded", F.length(F.coalesce(F.col("text"), F.lit(""))) >= min_text_chars
    )
    held.append(extracted.persist())
    return SimpleNamespace(
        cands=cands, cand_obs=cand_obs, host_state=host_state, bloom=bloom,
        spill_rows=spill_rows, kept=kept, deferred=deferred, fetched=fetched,
        extracted=extracted,
    )


def _plan_outputs(
    spark, catalog, fetch, wid, wave_index, held, *, dedup_gate, min_quality
) -> SimpleNamespace:
    """The wave's output frames over the persisted extract: seen delta,
    articles, near-dup gate, quality gate, new frontier and host_state.
    Runs no Spark action; the persisted near-dup flags go onto ``held``."""
    extracted = fetch.extracted
    yielded = extracted.filter(F.col("yielded"))
    seen_delta = yielded.select(
        "url",
        "url_hash",
        F.lit(wid).alias("discovered_wave"),
        F.lit(wid).alias("processed_wave"),
        F.lit(True).alias("is_processed"),
        F.col(priority.SORT_KEY).alias("sort_key"),
    )
    # classified articles (reference classifier.py:214-277): the
    # enrichment columns were computed in-scan by the extract kernel;
    # article rows are the post-skip-gate slice. 'sample' = the
    # reference's per-run metadata id stamped on every classified
    # article (classifier.py:192,254) — the wave id is its
    # deterministic analog; isCleaned inserted False verbatim
    # (classifier.py:262).
    classified = yielded.filter(~F.col("skip"))
    articles = classified.select(
        "url",
        "title",
        "text",
        "clean_text",
        "source",
        F.lit(wid).alias("wave_id"),
        "warc_ts",
        F.length("text").cast("long").alias("n_chars"),
        "n_tokens",
        "stop_ratio",
        "lang_pred",
        "quality",
        "fingerprint",
        "summary",
        "topic",
        "sentiment_label",
        "sentiment_score",
        "locations",
        "organizations",
        "persons",
        F.lit(wid).alias("sample"),
        F.lit(False).alias("is_cleaned"),
    )
    # incremental near-dup gate: probe the persistent band index
    # BEFORE this wave's commit (reads the previous snapshot), flag
    # prior-wave and first-wins same-wave near-dups, and in drop
    # mode withhold them from the articles sink. seen/frontier
    # semantics are untouched — a near-dup url is still "seen" and
    # its outlinks still schedule (only the article sink dedups).
    nd_flags = nd_kept_bands = None
    if dedup_gate:
        prior_bands = (
            catalog.read(spark, "minhash_bands", MINHASH_BANDS)
            if catalog.table_stats("minhash_bands")
            else None
        )
        # band rows straight off the extract cache: the kernel
        # emitted each page's keys in-pass, and each row carries
        # its crawl sort key for the same-wave first-wins arm
        nd_flags, nd_kept_bands, _ = dedupgate.wave_flags(
            None,
            prior_bands,
            bands=classified.select(
                "url",
                F.col(priority.SORT_KEY).alias("sort_key"),
                F.posexplode("bands").alias("band", "key"),
            ),
        )
        held.append(nd_flags)
        if dedup_gate == "drop":
            # the fused articles write runs this anti-join against the
            # persisted flags, so that one job fills the flags cache
            # too and the gate writes read it
            articles = articles.join(nd_flags.select("url"), "url", "left_anti")

    # quality sink gate (audit-trailed): below-threshold articles go
    # to quality_flags instead of the articles table
    q_flags = None
    if min_quality is not None:
        q_flags = (
            articles.filter(F.col("quality") < F.lit(float(min_quality)))
            .select("url", "quality")
            .withColumn("wave_id", F.lit(wid))
        )
        articles = articles.filter(F.col("quality") >= F.lit(float(min_quality)))
        if nd_kept_bands is not None:
            # the band index holds canonical SINK articles only — a
            # quality-dropped doc must not become a dedup canonical
            nd_kept_bands = nd_kept_bands.join(
                q_flags.select("url"), "url", "left_anti"
            )

    # carry = fetch failures (candidates with no page behind them,
    # derived from the persisted, already-small extract output, not a
    # second scan) + too-short pages + budget-deferred rows; all retried
    # next wave (reference scrapers never insert_link for these,
    # custom_scrapers.py:96-108,376-378)
    failed = fetch.kept.join(extracted.select("url"), "url", "left_anti")
    carry = extracted.filter(~F.col("yielded")).select(*FRONTIER_COLS)
    carry = carry.unionByName(failed.select(*FRONTIER_COLS))
    if fetch.deferred is not None:
        carry = carry.unionByName(fetch.deferred.select(*FRONTIER_COLS))
    children = priority.child_frontier(yielded).select(*FRONTIER_COLS)

    new_state = None
    if fetch.host_state is not None:
        # recency update: hosts fetched this wave get the wave's
        # logical clock (epoch + wave_index + 1 seconds —
        # deterministic, monotone). greatest() keeps any newer
        # caller-seeded timestamp; budgets/scores carry over.
        # Derived from the FETCHED set (extracted), not the
        # yielded filter: a host whose pages were all too short
        # was still hit this wave and must lose recency priority
        # (the politeness signal the idle key encodes).
        fetched_hosts = (
            politeness.with_host(extracted.select("url"))
            .select("host")
            .distinct()
            .withColumn("_fetched_ts", F.lit(wave_index + 1).cast("timestamp"))
        )
        new_state = fetch.host_state.join(fetched_hosts, "host", "full").select(
            "host",
            "budget",
            "news_score",
            F.greatest("last_fetch_ts", "_fetched_ts").alias("last_fetch_ts"),
        )
    return SimpleNamespace(
        seen_delta=seen_delta, classified=classified, articles=articles,
        nd_flags=nd_flags, nd_kept_bands=nd_kept_bands, q_flags=q_flags,
        new_frontier=carry.unionByName(children), new_state=new_state,
    )


def _gate_writes(clock, commit, out, band_stats: dict, n_rows_est: int, cores: int) -> None:
    # ONE task, in order: the flags write fills the flags cache (drop
    # mode: the fused articles write already did), and the band
    # append's anti-join then reads it (two concurrent writes would
    # each compute the probe)
    flags = out.nd_flags.withColumn("wave_id", F.lit(clock.wid))
    clock.write(commit, "near_dup_flags", narrowed(flags, 2, cores), "append")
    bands = out.nd_kept_bands.select("url", "band", "key").withColumn(
        "wave_id", F.lit(clock.wid)
    )
    clock.write(
        commit, "minhash_bands", write_narrowed(bands, band_stats, n_rows_est, cores), "append"
    )


def _commit_wave(
    spark, catalog, fetch, out, wave_index, clock, *, use_bloom, webhook_key,
    media_sink, media_max_side, extra_metrics,
) -> dict:
    """Every Spark action of the wave: the fused articles write, the
    write pool, the metrics, the bloom fold and the atomic commit."""
    wid = clock.wid
    cores = spark.sparkContext.defaultParallelism
    stats = catalog.table_stats
    # frontier row count is free from the snapshot manifest (lineage stats)
    n_frontier = stats("frontier").get("rows", 0)
    commit = catalog.begin()
    # THE data-plane fusion: this write traverses (and fills) the
    # extract cache, so extract CPU and articles sink IO run in ONE job
    # — the 10+ s/wave the articles write spent as serial residue now
    # overlaps the extract stage (a real cluster's sink streams from
    # the extract stage; it never materializes-then-rewrites). Its
    # width is a pre-execution estimate from the frontier size.
    clock.write(
        commit, "articles",
        out.articles.coalesce(fused_width(stats("articles"), n_frontier, cores)),
        "append",
    )
    clock.tick("extract+articles(fused)")
    n_extracted = fetch.extracted.count()  # cache is filled: cheap

    # the wave's output jobs are independent of each other — submit
    # them concurrently so the driver doesn't serialize four small
    # writes + an agg behind one another (Spark schedules concurrent
    # jobs across the same executors). Row estimates: append tables are
    # bounded by this wave's extract output; overwrite tables by their
    # own previous size (manifest stats rows). write_narrowed turns each
    # into a file count via the table's observed bytes/row.
    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = {
            "frontier": pool.submit(
                clock.write, commit, "frontier",
                write_narrowed(out.new_frontier, stats("frontier"), n_frontier or n_extracted, cores),
                "overwrite",
            ),
            "seen": pool.submit(
                clock.write, commit, "seen",
                write_narrowed(out.seen_delta, stats("seen"), n_extracted, cores),
                "append",
            ),
            "stats": pool.submit(clock.job, "stats", compute_stats, fetch.extracted),
            "dims": pool.submit(clock.job, "dims", compute_dims, out.classified),
        }
        if webhook_key is not None:
            payloads = webhook.signed_payloads(out.articles, webhook_key)
            futs["webhook_payloads"] = pool.submit(
                clock.write, commit, "webhook_payloads",
                write_narrowed(payloads, stats("webhook_payloads"), n_extracted, cores),
                "append",
            )
        if out.new_state is not None:
            hs = stats("host_state")
            futs["host_state"] = pool.submit(
                clock.write, commit, "host_state",
                write_narrowed(out.new_state, hs, hs.get("rows", 0) or n_extracted, cores),
                "overwrite",
            )
        if media_sink:
            media = multimodal.page_media_features(fetch.fetched, media_max_side)
            futs["media_features"] = pool.submit(
                clock.write, commit, "media_features",
                write_narrowed(
                    media.withColumn("wave_id", F.lit(wid)),
                    stats("media_features"), n_extracted, cores,
                ),
                "append",
            )
        if out.nd_flags is not None:
            futs["gate"] = pool.submit(
                _gate_writes, clock, commit, out, stats("minhash_bands"),
                n_extracted * dedupgate.N_BANDS, cores,
            )
        if out.q_flags is not None:
            futs["quality_flags"] = pool.submit(
                clock.write, commit, "quality_flags", narrowed(out.q_flags, 2, cores), "append"
            )
        if use_bloom:
            # deletable tier: ONE job builds both accelerator artifacts
            # for this wave's delta — the cuckoo blob (serves the spill
            # window now) and the bloom bitmap (the precomputed fold
            # input for when this wave LEAVES the window — the fold is
            # then a driver-side OR, zero Spark jobs, zero re-reads)
            futs["accel"] = pool.submit(
                clock.job, "accel_build",
                lambda: seenset.build_accel_rows(out.seen_delta).collect(),
            )
        done = {k: fut.result() for k, fut in futs.items()}
    clock.tick("parallel writes+stats")

    stat_rows, dim_rows = done["stats"], done["dims"]
    n_yielded = sum(r.n for r in stat_rows)
    n_skipped = sum(r.n_skip for r in stat_rows)
    n_children = int(sum(r.n_out for r in stat_rows))
    n_articles = n_yielded - n_skipped
    dist = [
        {
            "source": r.source,
            "count": r.n,
            "percentage": round(100.0 * r.n / n_yielded, 2) if n_yielded else 0.0,
        }
        for r in sorted(
            (r for r in stat_rows if r.n), key=lambda r: (-r.n, r.first_seen)
        )
    ]
    metrics = {
        "wave_id": wid,
        "n_frontier": n_frontier,
        "n_candidates": _n_candidates(fetch.cand_obs, fetch.cands),
        "n_yielded": n_yielded,
        "n_skipped": n_skipped,
        "n_articles": n_articles,
        "n_carry": done["frontier"] - n_children,
        "n_new_outlinks": n_children,
        "source_distribution": json.dumps(dist),
        "topic_distribution": dim_dist(dim_rows, "topic", n_articles),
        "sentiment_distribution": dim_dist(dim_rows, "sentiment", n_articles),
    }
    if extra_metrics:
        # caller-supplied idempotence markers (e.g. the streaming
        # epoch id) ride the snapshot's metrics dict — committed
        # atomically with the wave, snapshot-only (the wave_metrics
        # TABLE keeps its fixed schema below)
        metrics.update(extra_metrics)
    # driver-resident tables (1 metrics row, K bloom shards) write
    # via pyarrow directly — each Spark job here costs ~0.3-0.5 s of
    # the wave's SERIAL tail for a KB-scale payload
    commit.write_rows(
        "wave_metrics",
        [tuple(metrics[f.name] for f in WAVE_METRICS.fields)],
        WAVE_METRICS,
        mode="append",
    )

    if use_bloom:
        leaving = wave_index - SPILL_WAVES
        fold_rows = [r for r in fetch.spill_rows if r.wave_index <= leaving]
        if fold_rows:
            merged = seenset.BloomShardSet.from_rows(
                [(r.shard, r.bloom_bitmap, r.n_items) for r in fold_rows]
            )
            if fetch.bloom is not None:
                merged.merge(fetch.bloom)
            commit.write_rows(
                "bloom_shards", merged.to_rows(), BLOOM_SHARDS, mode="overwrite"
            )
        # spill window: prior recent-wave rows still inside the
        # window + this wave's rows (the leaving wave's rows drop —
        # their coverage just moved into the bloom)
        new_spill = [
            (r.wave_index, r.shard, bytes(r.bitmap), bytes(r.bloom_bitmap), r.n_items)
            for r in fetch.spill_rows
            if r.wave_index > leaving
        ] + [
            (wave_index, r.shard, bytes(r.cuckoo), bytes(r.bloom), r.n_items)
            for r in done["accel"]
        ]
        commit.write_rows(
            "cuckoo_spill", new_spill, CUCKOO_SPILL, mode="overwrite"
        )

    clock.tick("bloom_merge+metrics")
    commit.commit(wave_id=wid, wave_index=wave_index, metrics=metrics)
    clock.tick("commit")
    return metrics


def run_wave(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    pages: DataFrame,
    wave_index: int,
    min_text_chars: int = ex.MIN_TEXT_CHARS,
    budget: int | None = None,
    robots: DataFrame | None = None,
    use_bloom: bool = True,
    webhook_key: bytes | None = None,
    scheduler: str = "reference",
    pages_table: str | None = None,
    fetch_buckets: int = 32,
    enrich_fn=None,
    media_sink: bool = False,
    media_max_side: int = 256,
    dedup_gate: str | None = None,
    min_quality: float | None = None,
    extra_metrics: dict | None = None,
    dedup_captures: bool = False,
) -> dict:
    """One crawl wave. ``enrich_fn`` swaps the deterministic classify
    stand-in for real model inference (see extract.make_extract_kernel).

    ``dedup_captures``: the batch pages input carries a unique-url
    contract (a capture table keyed by url), so the fetch join emits one
    article per candidate with zero dedup cost. Streaming micro-batches
    can break that contract — a cross-lineage restart re-delivers files,
    so one batch may hold several captures of the same url. With
    dedup_captures=True the wave keeps the LATEST capture per url
    (max warc_ts, fingerprint tie-break), applied AFTER extraction so
    the window shuffles only the wave-bounded extracted rows and the
    raw html still never moves.

    ``min_quality`` withholds articles whose in-scan quality score falls
    below the threshold from the articles sink (a ``quality_flags``
    table records them with their scores — the audit trail).  Crawl
    semantics (seen set, frontier, outlinks) are untouched, exactly
    like the dedup gate: these are SINK filters for the training-data
    pipeline, not crawl-scheduling changes.

    ``dedup_gate`` enables the incremental near-dup gate (dedupgate.py —
    a persistent MinHash band index probed per wave): ``"flag"`` records
    near-dup decisions in a ``near_dup_flags`` table; ``"drop"``
    additionally withholds flagged articles from the articles sink.
    Either way the kept articles' band rows append to ``minhash_bands``
    atomically with the wave.

    ``media_sink=True`` adds the wave-level multimodal path: the fetched
    pages' raw payloads run through the typed-feature + resize-plan
    kernel (multimodal.page_media_features) and commit as a
    ``media_features`` table alongside the other state. It costs one
    extra pass over the fetched slice (the extract kernel drops the
    bytes, so media needs its own scan) — payloads are never persisted.
    ``scheduler`` picks the candidate ordering:

    - ``"reference"`` (default): the reference's total order
      (source rank, section rank, ord) — required for fixture parity.
    - ``"scaled"``: the north-rule priority queue (host budget tier,
      host idle time, news score, then the reference order as
      tie-break), driven by the persisted ``host_state`` table whose
      ``last_fetch_ts`` this wave updates at commit — hosts idle
      longest crawl first, never-fetched hosts first of all.

    ``pages_table`` switches the fetch join's physical strategy: when
    set (the name of a url-bucketed pages table, see
    ``bucketing.write_bucketed`` — ``fetch_buckets`` must match its
    spec), the wave's candidates are written bucketed on url and the
    fetch becomes a co-located sort-merge join with NO Exchange on the
    pages side — the 10^10-frontier path where the candidate set is too
    large to broadcast and html bytes still never move. Default (None):
    broadcast the slim candidate metadata into the pages scan.
    """
    _check_modes(scheduler, dedup_gate, budget)
    wid = wave_id_for(wave_index)
    clock = _Clock(wid)
    held: list[DataFrame] = []  # every frame a phase persisted
    try:
        fetch = _plan_fetch(
            spark, catalog, pages, clock, held, min_text_chars=min_text_chars,
            budget=budget, robots=robots, use_bloom=use_bloom, scheduler=scheduler,
            pages_table=pages_table, fetch_buckets=fetch_buckets, enrich_fn=enrich_fn,
            dedup_gate=dedup_gate, dedup_captures=dedup_captures,
        )
        out = _plan_outputs(
            spark, catalog, fetch, wid, wave_index, held,
            dedup_gate=dedup_gate, min_quality=min_quality,
        )
        return _commit_wave(
            spark, catalog, fetch, out, wave_index, clock, use_bloom=use_bloom,
            webhook_key=webhook_key, media_sink=media_sink,
            media_max_side=media_max_side, extra_metrics=extra_metrics,
        )
    finally:
        for df in reversed(held):
            df.unpersist()
        if pages_table is not None:
            spark.sql(f"DROP TABLE IF EXISTS {_cand_table(catalog)}")


def run_crawl(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    cfg: synth.SynthConfig,
    n_waves: int | None = None,
    pages: DataFrame | None = None,
    budget: int | None = None,
    robots: DataFrame | None = None,
    use_bloom: bool = True,
    webhook_key: bytes | None = None,
    scheduler: str = "reference",
    host_state_seed: DataFrame | None = None,
    pages_table: str | None = None,
    fetch_buckets: int = 32,
    enrich_fn=None,
    media_sink: bool = False,
    dedup_gate: str | None = None,
    min_quality: float | None = None,
) -> list[dict]:
    """Run (or resume) a crawl. Already-committed waves are skipped —
    replaying is a no-op, which is the resume/idempotence guarantee."""
    _check_modes(scheduler, dedup_gate, budget)
    n_waves = n_waves if n_waves is not None else cfg.n_waves
    if pages is None and pages_table is None:
        pages = synth.build_pages_df(spark, cfg)
    if catalog.current_snapshot() is None:
        init_crawl(
            spark, catalog, synth.build_seeds_df(spark, cfg), host_state_seed
        )
    out = []
    for w in range(catalog.last_wave_index() + 1, n_waves):
        out.append(
            run_wave(
                spark,
                catalog,
                pages,
                w,
                min_text_chars=cfg.min_text_chars,
                budget=budget,
                robots=robots,
                use_bloom=use_bloom,
                webhook_key=webhook_key,
                scheduler=scheduler,
                pages_table=pages_table,
                fetch_buckets=fetch_buckets,
                enrich_fn=enrich_fn,
                media_sink=media_sink,
                dedup_gate=dedup_gate,
                min_quality=min_quality,
            )
        )
    return out


def read_near_dup_flags(
    spark: SparkSession, catalog: ManifestParquetCatalog
) -> DataFrame:
    return catalog.read(spark, "near_dup_flags", NEAR_DUP_FLAGS)


def read_quality_flags(
    spark: SparkSession, catalog: ManifestParquetCatalog
) -> DataFrame:
    return catalog.read(spark, "quality_flags", QUALITY_FLAGS)


def read_articles(spark: SparkSession, catalog: ManifestParquetCatalog) -> DataFrame:
    return catalog.read(spark, "articles", ARTICLES)


def read_seen(spark: SparkSession, catalog: ManifestParquetCatalog) -> DataFrame:
    return catalog.read(spark, "seen", SEEN)


def read_media(spark: SparkSession, catalog: ManifestParquetCatalog) -> DataFrame:
    return catalog.read(spark, "media_features", MEDIA_FEATURES)


def crawl_order(spark: SparkSession, catalog: ManifestParquetCatalog) -> list[tuple[str, str]]:
    """(wave_id, url) global crawl sequence, reconstructed from the
    persisted per-yield sort keys — the fixture the oracle's
    ``WaveResult.crawl_order`` is diffed against."""
    seen = read_seen(spark, catalog)
    return [
        (r.processed_wave, r.url)
        for r in seen.orderBy("processed_wave", "sort_key").collect()
    ]
