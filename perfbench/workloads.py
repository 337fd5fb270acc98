"""Child side of the benchmark: the Spark session, the workloads, their
correctness checks and the traced per-layer replays.

Imported only inside the child process that perfbench/run.py
supervises; it writes its result to ``<work>/result.json``.

Timed calls go only through the engine's public functions:
``wave.init_crawl`` / ``wave.run_wave`` with inputs built by ``synth``,
and the ``newscrawl.queries.QUERIES`` registry. Checks, replays and
counters run outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
PINS_PATH = os.environ.get("PERFBENCH_PINS", os.path.join(HERE, "pins.json"))

# Seeds map onto VARIANTS corpus variants, so pins.json can hold the
# expected digests of every input the benchmark can generate; the seed
# itself still picks the corpus partition order.
VARIANTS = 5
SHIFTS = (-0.02, -0.01, 0.0, 0.01, 0.02)

# crawl_deep: small waves, each dominated by per-wave fixed cost (catalog
# reads, the growing seen-set anti-join, the bloom/cuckoo fold in wave 2,
# the per-host budget gate, the scaled priority key, the near-dup gate's
# probe of a growing band index, small storage commits). Three waves are
# the fewest that reach the fold.
DEEP = dict(n_seed=60, n_total=200, hot_universe=1000, link_cutoff=185, base_paras=30)
DEEP_WAVES = 3
DEEP_BUDGET = 150
DEEP_KW = dict(scheduler="scaled", budget=DEEP_BUDGET, dedup_gate="flag", min_quality=0.2)
MINI_DEEP = dict(n_seed=4, n_total=40, hot_universe=60, link_cutoff=36, base_paras=4)
MINI_BUDGET = 6

# The query suite: this benchmark's own copy. The session-cache
# consumers (CACHE_CONSUMERS below; bigram_lm_perplexity is also the
# largest leaf), the classify family (topic_classify,
# topic_distribution, article_entities) and three cheap relational
# queries as the fixed-cost floor.
QUERY_SUITE = [
    "kmeans_train",
    "minhash_lsh_candidates",
    "minhash_dedup_keep",
    "ngram_jaccard_pairs",
    "simhash",
    "logreg_quality",
    "bigram_lm_perplexity",
    "topic_classify",
    "topic_distribution",
    "article_entities",
    "pricing_summary",
    "first_wins_dedup",
    "source_distribution",
]
# Queries that share a session cache (all three build or reuse the
# MinHash signatures): the seed moves them as one block, so every seed
# measures the same cold cache build.
CACHE_GROUPS = [("minhash_lsh_candidates", "minhash_dedup_keep", "ngram_jaccard_pairs")]
# the suite's session-cache consumers: only these get warm calls
CACHE_CONSUMERS = [
    "kmeans_train", "minhash_lsh_candidates", "minhash_dedup_keep",
    "ngram_jaccard_pairs", "simhash", "logreg_quality", "bigram_lm_perplexity",
]
# warm-up: queries outside the suite that share none of its session
# caches; they compile the common operators, and doc_fingerprint's
# mapInPandas starts the Python workers
WARMUP_QUERIES = ["group_collect", "dedup_exact", "quality_score", "doc_fingerprint"]
DUCK_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

WORKLOADS = {
    "crawl_deep": "crawl",
    "queries": "queries",
}


# ---------------------------------------------------------------------------
# tracing and counters
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id); returned with
    the result when the run ends. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()


class Jobs:
    """Spark jobs and failed task attempts of a call, from the range of
    job ids before and after it (no job groups: the wave's write pool
    threads would not inherit one)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def last(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def failed_tasks(self, lo: int, hi: int) -> int:
        n = 0
        for jid in range(lo + 1, hi + 1):
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                st = self.tracker.getStageInfo(sid)
                n += st.numFailedTasks if st else 0
        return n


class Run:
    """One child run: session, counters, failures and the result."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
        self.first_call: float | None = None
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict = {}
        self.summary: list = []
        self.tracer = Tracer(os.environ.get("PERFBENCH_RUN", "local"), bool(args.trace))
        with open(PINS_PATH) as f:
            self.pins = json.load(f)
        self.spark = None
        self.session_s = 0.0

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def start_timing(self) -> None:
        if self.first_call is None:
            self.first_call = time.time()

    def put(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.metrics[name] = {"value": value, "unit": unit}
        self.summary.append((name, value, unit, note))

    def note(self, name: str, value: float, unit: str, note: str = "") -> None:
        """A printed figure that is not one of the JSON metrics."""
        self.summary.append((name, value, unit, note))


def session_conf(work: str) -> dict:
    """Spark settings sized from this host: every core the process may
    use, a driver heap bounded by physical memory, scratch inside the
    run's work directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # a fixed-size heap: its resident size then depends on the work done,
    # not on when the collector decided to grow it
    java = (
        f"-Xms{heap_mb}m -Djava.io.tmpdir={local} -Dderby.system.home={work} "
        "-XX:-UsePerfData"
    )
    return {
        "master": f"local[{cores}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": java,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def build_session(work: str):
    from pyspark.sql import SparkSession

    conf = session_conf(work)
    # the launcher JVM would otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    b = SparkSession.builder.master(conf.pop("master")).appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# crawl workload
# ---------------------------------------------------------------------------


def crawl_spec(seed: int, mini: bool) -> tuple[dict, int, dict]:
    """(SynthConfig kwargs, waves, run_wave kwargs) for a seed: n_seed
    and link_cutoff each shift by up to +-2 %."""
    base = dict(MINI_DEEP if mini else DEEP)
    v = seed % VARIANTS
    base["n_seed"] = round(base["n_seed"] * (1 + SHIFTS[v]))
    base["link_cutoff"] = round(base["link_cutoff"] * (1 + SHIFTS[(v + 2) % VARIANTS]))
    kw = dict(DEEP_KW, budget=MINI_BUDGET if mini else DEEP_BUDGET)
    return base, DEEP_WAVES, kw


def pin_key(cfg: dict, waves: int, kw: dict) -> str:
    return json.dumps({"cfg": cfg, "waves": waves, "kw": kw}, sort_keys=True)


def build_corpus(spark, cfg, seed: int):
    """The page corpus, persisted, in a seed-dependent partition order."""
    from pyspark.sql import functions as F

    from newscrawl import synth

    parts = spark.sparkContext.defaultParallelism * 4
    pages = (
        synth.build_pages_df(spark, cfg, num_partitions=parts)
        .repartition(parts, F.xxhash64(F.col("url"), F.lit(seed)))
        .persist()
    )
    n = pages.count()
    return pages, n


def warm_crawl(run: Run, kw: dict) -> None:
    """A one-wave crawl of a tiny corpus with the workload's options, so
    Python workers, code generation and the first parquet writes are
    paid before the first timed wave."""
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    spark = run.spark
    cfg = synth.SynthConfig(n_seed=2, n_total=8, hot_universe=16, n_waves=1)
    cat = ManifestParquetCatalog(tempfile.mkdtemp(prefix="warm_", dir=run.work))
    pages = synth.build_pages_df(spark, cfg, num_partitions=2)
    wave.run_crawl(spark, cat, cfg, pages=pages, **kw)
    shutil.rmtree(cat.root, ignore_errors=True)


def snapshot_delta(catalog) -> tuple[int, int]:
    """(files, bytes) the current snapshot added over its parent."""
    snap = catalog.current_snapshot()
    parent_id = snap.get("parent_snapshot_id")
    before = set()
    if parent_id is not None:
        parent = catalog.snapshot(parent_id)
        before = {f["path"] for t in parent["tables"].values() for f in t.get("files", [])}
    new = [
        f
        for t in snap["tables"].values()
        for f in t.get("files", [])
        if f["path"] not in before
    ]
    return len(new), sum(f.get("bytes", 0) for f in new)


def _arrow_rows(catalog, table: str, cols: list[str]) -> dict:
    import pyarrow.parquet as pq

    out = {c: [] for c in cols}
    for path in catalog.table_files(table):
        t = pq.read_table(path, columns=cols)
        for c in cols:
            out[c].extend(t.column(c).to_pylist())
    return out


def crawl_digests(catalog) -> dict:
    """Digests of a finished crawl: crawl order, article texts, and the
    two gates' flag tables."""
    seen = _arrow_rows(catalog, "seen", ["url", "processed_wave", "sort_key"])
    arts = _arrow_rows(catalog, "articles", ["url", "text"])
    qflags = _arrow_rows(catalog, "quality_flags", ["url"])
    nd = _arrow_rows(catalog, "near_dup_flags", ["url", "matched_url", "scope"])
    return {
        "crawl_order": digest(
            f"{w}\t{u}"
            for w, _k, u in sorted(zip(seen["processed_wave"], seen["sort_key"], seen["url"]))
        ),
        "articles": digest(
            sorted(
                f"{u}\t{hashlib.sha256(t.encode('utf-8')).hexdigest()}"
                for u, t in zip(arts["url"], arts["text"])
            )
        ),
        "flags": digest(
            sorted(f"q\t{u}" for u in qflags["url"])
            + sorted(
                f"n\t{u}\t{m}\t{s}"
                for u, m, s in zip(nd["url"], nd["matched_url"], nd["scope"])
            )
        ),
    }


def check_crawl(run: Run, catalog, metrics: list[dict], budget: int, key: str) -> None:
    """Invariants of a budgeted, gated crawl, plus the digests pinned
    for this input variant. Reads the catalog with pyarrow."""
    from urllib.parse import urlsplit

    seen = _arrow_rows(catalog, "seen", ["url", "processed_wave"])
    n_yielded = sum(m["n_yielded"] for m in metrics)
    run.op(
        len(seen["url"]) == len(set(seen["url"])) == n_yielded,
        f"seen set: {len(seen['url'])} rows, {len(set(seen['url']))} unique, "
        f"{n_yielded} yielded",
    )
    per_host: dict = {}
    for url, w in zip(seen["url"], seen["processed_wave"]):
        k = (w, urlsplit(url).hostname)
        per_host[k] = per_host.get(k, 0) + 1
    worst = max(per_host.values()) if per_host else 0
    run.op(worst <= budget, f"a host yielded {worst} urls in one wave, budget {budget}")

    n_arts = len(_arrow_rows(catalog, "articles", ["url"])["url"])
    n_q = len(_arrow_rows(catalog, "quality_flags", ["url"])["url"])
    n_classified = sum(m["n_articles"] for m in metrics)
    run.op(
        n_arts + n_q == n_classified,
        f"articles {n_arts} + quality_flags {n_q} != classified {n_classified}",
    )

    got = crawl_digests(catalog)
    want = run.pins.get("crawl", {}).get(key)
    if want is None:
        run.op(False, f"no pinned crawl digest for {key}")
        return
    for name in sorted(got):
        run.op(got[name] == want.get(name), f"crawl digest {name} differs from its pin")


def accel_state(catalog) -> tuple[float, int]:
    """(mean bloom false-positive rate over shards, items in the cuckoo
    spill window) of the catalog's current snapshot."""
    from newscrawl import seenset

    rows = catalog.read_rows("bloom_shards", ["shard", "bitmap", "n_items"])
    fpp = 0.0
    if rows:
        bloom = seenset.BloomShardSet.from_rows([(r.shard, r.bitmap, r.n_items) for r in rows])
        fpp = statistics.fmean(bloom.fpp(sh) for sh in range(bloom.n_shards))
    spill = catalog.read_rows("cuckoo_spill", ["n_items"])
    return fpp, sum(r.n_items for r in spill)


def replay_wave(run: Run, catalog, scratch, pages, w: int, kw: dict, times, acc) -> None:
    """Between waves: feed wave ``w``'s inputs through each layer's
    public function, each in its own span, outside the wave span."""
    from pyspark.sql import functions as F

    from newscrawl import canonicalize, dedupgate, politeness, priority, seenset
    from newscrawl import extract as ex
    from newscrawl.schema import FRONTIER, HOST_STATE, MINHASH_BANDS, SEEN
    from newscrawl.wave import FRONTIER_COLS

    spark = run.spark
    tr = run.tracer
    with tr.span("replay", wave=w):
        frontier = catalog.read(spark, "frontier", FRONTIER)
        seen = catalog.read(spark, "seen", SEEN).filter(F.col("is_processed"))
        with tr.span("priority.rank") as sp:
            # the crawl's scheduler is "scaled": its key, then first-wins
            keyed = politeness.scaled_priority_key(
                frontier, catalog.read(spark, "host_state", HOST_STATE)
            )
            cands = priority.first_wins_dedup(keyed).withColumn(
                "url_hash", canonicalize.canonical_hash("url")
            ).persist()
            n_cands = cands.count()
        times["priority.rank_s"].append(sp["end"] - sp["start"])

        bloom_rows = catalog.read_rows("bloom_shards", ["shard", "bitmap", "n_items"])
        bloom = (
            seenset.BloomShardSet.from_rows([(r.shard, r.bitmap, r.n_items) for r in bloom_rows])
            if bloom_rows
            else None
        )
        spill_rows = catalog.read_rows("cuckoo_spill", ["wave_index", "shard", "bitmap", "n_items"])
        spill = (
            seenset.CuckooShardSet.from_rows(
                [(r.wave_index, r.shard, r.bitmap, r.n_items) for r in spill_rows]
            )
            if spill_rows
            else None
        )
        with tr.span("seenset.antijoin") as sp:
            unseen = seenset.antijoin_unseen(cands, seen, bloom, spill).persist()
            n_unseen = unseen.count()
        times["seenset.antijoin_s"].append(sp["end"] - sp["start"])
        acc["seenset.unseen"] += n_unseen
        acc["seenset.candidates"] += n_cands

        with tr.span("politeness.budget_gate") as sp:
            kept, _deferred = politeness.budget_gate(unseen, kw.get("budget"))
            kept = kept.persist()
            n_kept = kept.count()
        times["politeness.budget_gate_s"].append(sp["end"] - sp["start"])
        acc["politeness.deferred"] += n_unseen - n_kept
        acc["politeness.unseen"] += n_unseen

        fetched = pages.select("url", "warc_ts", "html").join(
            F.broadcast(kept.select(*FRONTIER_COLS, priority.SORT_KEY)), "url", "inner"
        )
        in_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in fetched.schema.fields
            if f.name != "html"
        )
        schema = f"{in_ddl}, {ex.EXTRACT_COLUMNS}"
        n_pages = fetched.count()
        with tr.span("extract.extract_pages") as sp:
            fetched.mapInPandas(ex.extract_pages, schema=schema).write.format(
                "noop"
            ).mode("overwrite").save()
        acc["extract.s"] += sp["end"] - sp["start"]
        acc["extract.pages"] += n_pages

        min_chars = ex.MIN_TEXT_CHARS
        extracted = (
            fetched.mapInPandas(ex.extract_pages, schema=schema)
            .withColumn("url_hash", canonicalize.canonical_hash("url"))
            .withColumn(
                "yielded",
                F.length(F.coalesce(F.col("text"), F.lit(""))) >= min_chars,
            )
            .persist()
        )
        yielded = extracted.filter(F.col("yielded"))
        classified = yielded.filter(~F.col("skip"))
        n_yield = yielded.count()
        acc["extract.yielded"] += n_yield

        prior = (
            catalog.read(spark, "minhash_bands", MINHASH_BANDS)
            if catalog.table_stats("minhash_bands")
            else None
        )
        flags, _kept_bands, bands = dedupgate.wave_flags(
            classified.select("url", "text", F.col(priority.SORT_KEY).alias("sort_key")),
            prior,
        )
        with tr.span("dedupgate.band_build") as sp:
            bands.count()
        times["dedupgate.band_build_s"].append(sp["end"] - sp["start"])
        with tr.span("dedupgate.probe") as sp:
            n_flags = flags.count()
        times["dedupgate.probe_s"].append(sp["end"] - sp["start"])
        acc["dedupgate.probe_keys"] += bands.select("band", "key").distinct().count()
        n_classified = classified.count()
        acc["dedupgate.flags"] += n_flags
        acc["dedupgate.articles"] += n_classified
        flags.unpersist()
        bands.unpersist()

        articles = classified.select(
            "url", "title", "text", "clean_text", "source", "warc_ts", "quality", "topic"
        )
        commit = scratch.begin()
        with tr.span("storage.articles_write") as sp:
            commit.write("articles", articles.coalesce(spark.sparkContext.defaultParallelism))
        commit.commit(wave_id=f"replay{w}", wave_index=w)
        acc["storage.write_s"] += sp["end"] - sp["start"]
        acc["storage.write_bytes"] += snapshot_delta(scratch)[1]
        commit = scratch.begin()
        with tr.span("storage.commit") as sp:
            commit.write("seen", yielded.select("url", "url_hash").coalesce(1))
            commit.commit(wave_id=f"replay{w}", wave_index=w)
        times["storage.commit_s"].append(sp["end"] - sp["start"])
        for df in (extracted, kept, unseen, cands):
            df.unpersist()


def crawl_once(run: Run, cfg, pages, kw: dict, key: str, times, acc, replay: bool) -> dict:
    """One crawl of a fresh catalog; checks its outputs afterwards."""
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    spark = run.spark
    tr = run.tracer
    jobs = Jobs(spark.sparkContext)
    catalog = ManifestParquetCatalog(tempfile.mkdtemp(prefix="crawl_", dir=run.work))
    scratch = ManifestParquetCatalog(tempfile.mkdtemp(prefix="scratch_", dir=run.work))
    out = {"wave_s": [], "metrics": []}
    with tr.span("wave.init_crawl"):
        wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))
    for w in range(cfg.n_waves):
        if replay:
            replay_wave(run, catalog, scratch, pages, w, kw, times, acc)
        j0 = jobs.last()
        try:
            with tr.span("wave.run_wave", wave=w):
                t = time.perf_counter()
                m = wave.run_wave(spark, catalog, pages, w, min_text_chars=cfg.min_text_chars, **kw)
                dt = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            run.op(False, f"run_wave {w} raised")
            break
        run.op(True, "")
        j1 = jobs.last()
        out["wave_s"].append(dt)
        out["metrics"].append(m)
        times["wave.jobs"].append(j1 - j0)
        acc["wave.tasks_failed"] += jobs.failed_tasks(j0, j1)
        nf, nb = snapshot_delta(catalog)
        times["storage.files"].append(nf)
        acc["storage.new_bytes"] += nb
    if len(out["metrics"]) == cfg.n_waves:
        check_crawl(run, catalog, out["metrics"], kw["budget"], key)
    out["bloom_fpp"], out["spill_items"] = accel_state(catalog)
    acc["storage.article_bytes"] += sum(
        n or 0 for n in _arrow_rows(catalog, "articles", ["n_chars"])["n_chars"]
    )
    shutil.rmtree(catalog.root, ignore_errors=True)
    shutil.rmtree(scratch.root, ignore_errors=True)
    return out


def crawl_part(run: Run, own: bool) -> None:
    """Crawl fresh catalogs until ``--seconds`` of waves are measured (at
    least one crawl). ``own`` is False when the traced run of the
    queries workload probes the crawl layers: that probe crawls the
    miniature corpus without a warm-up, to keep the traced run short."""
    from newscrawl import synth

    spark = run.spark
    tr = run.tracer
    cfg_kw, n_waves, kw = crawl_spec(run.args.seed, run.args.mini or not own)
    cfg = synth.SynthConfig(n_waves=n_waves, **cfg_kw)
    key = pin_key(cfg_kw, n_waves, kw)

    with tr.span("synth.corpus"):
        t = time.perf_counter()
        pages, n_pages = build_corpus(spark, cfg, run.args.seed)
        corpus_s = time.perf_counter() - t
    t = time.perf_counter()
    if own:
        with tr.span("setup.warm_crawl"):
            warm_crawl(run, kw)
    warm_s = time.perf_counter() - t

    times, acc = defaultdict(list), defaultdict(float)
    if own:
        run.start_timing()
    crawls = []
    while not crawls or (own and sum(sum(c["wave_s"]) for c in crawls) < run.args.seconds):
        crawls.append(crawl_once(run, cfg, pages, kw, key, times, acc, tr.enabled and not crawls))
        if len(crawls[-1]["wave_s"]) < n_waves:
            break
    pages.unpersist()
    wave_s = [s for c in crawls for s in c["wave_s"]]
    if not wave_s:
        return

    urls = sum(m["n_yielded"] for c in crawls for m in c["metrics"])
    crawl_s = [sum(c["wave_s"]) for c in crawls]
    if own and not tr.enabled:
        run.put("setup_s", run.first_call - run.t0, "s", "session, corpus, warm-up")
        run.note("setup.session_s", run.session_s, "s")
        run.note("setup.corpus_s", corpus_s, "s", f"{n_pages} pages")
        run.note("setup.warm_s", warm_s, "s", "one-wave crawl of a tiny corpus")
        run.put("work_s", statistics.median(crawl_s), "s",
                f"run_wave seconds of one crawl, median of {len(crawls)}")
        run.note("wave_s_p50", statistics.median(wave_s), "s",
                 "run_wave seconds " + " ".join(f"{x:.2f}" for x in wave_s))
        run.put("items_per_s", urls / sum(wave_s), "1/s", f"urls_per_s, {urls} urls yielded")
    if own and tr.enabled:
        run.put("trace.work_s", statistics.median(crawl_s), "s", "traced work_s")
    if not tr.enabled:
        return
    last = crawls[-1]
    med = statistics.median
    run.put("synth.corpus_s", corpus_s, "s", f"{n_pages} pages")
    run.put("wave.jobs_per_wave", med(times["wave.jobs"]), "count", "median over waves")
    run.put("wave.tasks_failed", acc["wave.tasks_failed"], "count", "failed task attempts (retries)")
    run.put("storage.files_per_wave", med(times["storage.files"]), "count", "median over waves")
    run.put(
        "storage.bytes_per_article_byte",
        acc["storage.new_bytes"] / max(acc["storage.article_bytes"], 1), "ratio",
        "catalog bytes committed per byte of article text",
    )
    run.put("storage.commit_s", med(times["storage.commit_s"]), "s", "replay, median over waves")
    run.put(
        "storage.articles_write_mb_per_s",
        acc["storage.write_bytes"] / 1e6 / max(acc["storage.write_s"], 1e-9), "MB/s", "replay",
    )
    run.put(
        "extract.us_per_page", acc["extract.s"] * 1e6 / max(acc["extract.pages"], 1), "us",
        f"wall time per fetched page, {acc['extract.pages']:.0f} pages",
    )
    run.put("extract.yield_ratio", acc["extract.yielded"] / max(acc["extract.pages"], 1), "ratio")
    run.put("priority.rank_s", med(times["priority.rank_s"]), "s", "median over waves")
    run.put("seenset.antijoin_s", med(times["seenset.antijoin_s"]), "s", "median over waves")
    run.put("seenset.unseen_ratio", acc["seenset.unseen"] / max(acc["seenset.candidates"], 1), "ratio")
    run.put("seenset.bloom_fpp", last["bloom_fpp"], "ratio", "mean over shards, after the last wave")
    run.put("seenset.spill_items", last["spill_items"], "count", "cuckoo spill window, after the last wave")
    run.put("politeness.budget_gate_s", med(times["politeness.budget_gate_s"]), "s", "median over waves")
    run.put("politeness.deferred_ratio", acc["politeness.deferred"] / max(acc["politeness.unseen"], 1), "ratio")
    run.put("dedupgate.band_build_s", med(times["dedupgate.band_build_s"]), "s", "median over waves")
    run.put("dedupgate.probe_s", med(times["dedupgate.probe_s"]), "s", "median over waves")
    run.put("dedupgate.probe_keys", acc["dedupgate.probe_keys"], "count", "sum over waves")
    run.put("dedupgate.match_ratio", acc["dedupgate.flags"] / max(acc["dedupgate.articles"], 1), "ratio")


# ---------------------------------------------------------------------------
# queries workload
# ---------------------------------------------------------------------------


def _canon(val) -> str:
    # the normalisation of tests/test_queries_oracle.py
    if val is None:
        return "\x00NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val + 0.0)
    return repr(val)


def result_digest(pdf) -> dict:
    cols = sorted(pdf.columns)
    recs = sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))
    return {"cols": cols, "rows": len(recs), "digest": digest(repr(r) for r in recs)}


def oracle_digest(run: Run, name: str, sql: str) -> dict:
    """The DuckDB oracle's normalised result for a query: pinned in
    pins.json (keyed by the SQL text), else computed and cached in the
    checkout."""
    key = hashlib.sha256(sql.encode("utf-8")).hexdigest()
    pinned = run.pins.get("queries", {}).get(name)
    if pinned and pinned.get("sql_sha256") == key:
        return pinned
    cache_dir = os.path.join(os.path.dirname(HERE), ".perfbench_cache")
    path = os.path.join(cache_dir, f"duck-{name}-{key[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    for t in DUCK_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    out = dict(result_digest(con.execute(sql).df()), sql_sha256=key)
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def query_order(seed: int) -> list[str]:
    """The suite in a seed-dependent order; each cache group stays one
    block in its listed order."""
    import random

    grouped = {q for g in CACHE_GROUPS for q in g}
    units = [list(g) for g in CACHE_GROUPS] + [[q] for q in QUERY_SUITE if q not in grouped]
    units.sort(key=lambda u: QUERY_SUITE.index(u[0]))
    random.Random(seed).shuffle(units)
    return [q for u in units for q in u]


def queries_part(run: Run, own: bool) -> None:
    """Pass 1 calls every suite query once in the fresh session; warm
    passes call the session-cache consumers again until ``--seconds``
    are measured (at least one warm pass)."""
    from newscrawl.queries import QUERIES

    spark = run.spark
    tr = run.tracer
    names = query_order(run.args.seed)
    with tr.span("setup.warm_queries"):
        for name in WARMUP_QUERIES:
            QUERIES[name][0](spark, DATA_DIR).toPandas()
    jobs = Jobs(spark.sparkContext)
    passes: list[dict] = []
    n_jobs = 0
    if own:
        run.start_timing()
    while len(passes) < 2 or (own and sum(sum(t.values()) for t in passes) < run.args.seconds):
        p = len(passes) + 1
        passes.append({})
        for name in names if p == 1 else [n for n in names if n in CACHE_CONSUMERS]:
            fn, sql = QUERIES[name]
            j0 = jobs.last()
            try:
                with tr.span("queries." + name, pass_=p):
                    t = time.perf_counter()
                    pdf = fn(spark, DATA_DIR).toPandas()
                    dt = time.perf_counter() - t
            except Exception:
                traceback.print_exc()
                run.op(False, f"query {name} pass {p} raised")
                continue
            run.op(True, "")
            print(f"query {name} pass {p}: {dt:.3f} s", flush=True)
            if p == 1:
                n_jobs += jobs.last() - j0
            passes[-1][name] = dt
            got = result_digest(pdf)
            want = oracle_digest(run, name, sql)
            run.op(
                got["rows"] > 0
                and all(got[k] == want[k] for k in ("cols", "rows", "digest")),
                f"query {name} pass {p}: result differs from the DuckDB oracle",
            )
    cold = list(passes[0].values())
    if not cold:
        return
    warm = {n: statistics.median(t[n] for t in passes[1:] if n in t) for n in names
            if any(n in t for t in passes[1:])}
    if own and not tr.enabled:
        run.put("setup_s", run.first_call - run.t0, "s", "session and warm-up queries")
        run.put("work_s", sum(cold), "s", f"query_suite_s, {len(cold)} first calls")
        run.note("query_s_p50", statistics.median(cold), "s", f"n={len(cold)} first calls")
        run.put("items_per_s", len(cold) / sum(cold), "1/s", "first calls per second")
        run.note("query_warm_suite_s", sum(warm.values()), "s",
                 f"{len(warm)} cache consumers, medians over {len(passes) - 1} warm passes")
    if own and tr.enabled:
        run.put("trace.work_s", sum(cold), "s", "traced work_s")
    if not tr.enabled:
        return
    run.put("queries.jobs", n_jobs, "count", "Spark jobs of the first calls")
    run.put("queries.warm_suite_s", sum(warm.values()), "s", "query_warm_suite_s")
    for name in names:
        if name in passes[0]:
            run.put(f"queries.{name}.cold_s", passes[0][name], "s")
        if name in warm:
            run.put(f"queries.{name}.warm_s", warm[name], "s")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

PARTS = {"crawl": crawl_part, "queries": queries_part}


def child_main(args) -> int:
    run = Run(args)
    own = WORKLOADS[args.workload]
    # the traced run measures every layer: the workload's own part first,
    # under the same conditions as its untraced run, then the other part
    order = [own] + ([p for p in PARTS if p != own] if args.trace else [])
    t = time.perf_counter()
    run.spark = build_session(run.work)
    run.session_s = time.perf_counter() - t
    try:
        for part in order:
            PARTS[part](run, part == own)
    except Exception:
        traceback.print_exc()
        run.op(False, "workload raised")
    finally:
        stop_session(run.spark)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": run.metrics,
        "summary": run.summary,
        "failures": run.failures,
        "spans": run.tracer.spans,
    }
    with open(os.path.join(run.work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0
