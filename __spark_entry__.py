"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship composite pipeline on sf0.001;
``queries``/``oracle_sql`` expose the operator inventory of SURVEY.md §2
plus the training-data-pipeline operators (dedup / similarity / text
analysis), each with a DuckDB-equivalent oracle. The full crawl engine
itself (frontier, seen-set, politeness, waves) is exercised by
``crawl_wave_articles``, whose oracle is the committed pure-Python
reference-oracle output (tests/golden/crawl_wave_articles.parquet,
regenerated by scripts/make_golden.py) served to DuckDB via
read_parquet — the full hash/schema/rows check applies.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from newscrawl.queries import QUERIES, session_memo


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl-analog pipeline over sf0.001 documents — dedup
    (first-wins), boilerplate + min-content gates, quality scoring, and
    a per-source distribution (the reference classifier's wave summary,
    classifier.py:295-307)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    low = F.lower(F.col("text"))
    kept = (
        docs.filter(F.length("text") >= 100)
        .filter(~(low.contains("subscribe") | low.contains("cookie")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(F.md5(F.encode(F.col("text"), "utf-8"))).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    agg = kept.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
    )
    # total as a Window over the post-agg rows (bounded at group
    # cardinality): ONE corpus scan — a crossJoin against a
    # re-aggregated total would re-scan (branches don't share subplans)
    return agg.select(
        "source",
        "lang",
        "n",
        "avg_chars",
        F.round(
            F.lit(100.0) * F.col("n") / F.sum("n").over(W.partitionBy()), 2
        ).alias("pct"),
    ).orderBy("source", "lang")


def _entry_catalog(spark: SparkSession):
    """One deterministic 2-wave crawl per session, session-memoized: it
    feeds BOTH engine rows (crawl_wave_articles and
    corpus_prepare_crawled)."""
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    def crawl():
        cfg = synth.SynthConfig(n_seed=2, n_total=12, n_waves=2)
        catalog = ManifestParquetCatalog(
            tempfile.mkdtemp(prefix="newscrawl_entry_")
        )
        wave.run_crawl(spark, catalog, cfg)
        return catalog

    return session_memo(spark, "entry_catalog", crawl)


def _crawl_wave_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real engine end-to-end at small scale: synthesize the page
    corpus, run 2 crawl waves (frontier -> anti-join -> priority ->
    fetch join -> extract UDF -> commit), return the articles table.
    Deterministic; correctness vs the reference oracle is asserted by
    tests/test_wave.py."""
    from newscrawl import wave

    catalog = _entry_catalog(spark)
    arts = wave.read_articles(spark, catalog)
    # The driver's rows-check canonicalizer sorts every column via pandas
    # lexsort, which cannot factorize list cells — serialize the entity
    # ARRAY<STRING> columns to a stable scalar for the comparator, and
    # warc_ts to its wall-clock string (synth timestamps are naive and
    # round-trip through this one session, so the rendering is identical
    # under ANY session timezone — matching the golden fixture's
    # strftime). The engine-side schema (ARTICLES, schema.py) keeps the
    # real arrays/timestamps; the golden diff in tests/test_wave.py
    # checks those.
    for c in ("locations", "organizations", "persons"):
        arts = arts.withColumn(c, F.array_join(F.col(c), "|"))
    arts = arts.withColumn(
        "warc_ts", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
    )
    return arts.orderBy("wave_id", "url")


# gate threshold for the crawled corpus-prepare composite: the crawl's
# in-scan quality score (extract.py) over the 2-wave golden corpus has
# p10=0.125 / p50=0.211 / p90=0.310 — 0.2 splits it (~half pruned), so
# the gate verifiably fires instead of degenerating to all-pass
CRAWLED_MIN_QUALITY = 0.2


def _corpus_prepare_crawled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship END-TO-END path as ONE verified pipeline: crawl ->
    articles table -> quality gate AND near-dup dedup -> 512-token
    training-sequence packing (the q_corpus_prepare composite shape
    over the CRAWL ENGINE's output instead of the sf documents table).
    The quality gate reuses the crawl's own IN-SCAN quality and
    n_tokens columns — corpus prep over crawled data never re-tokenizes
    what the extract kernel already measured; dedup-keep is the same
    MinHash-LSH cluster keep list (q_minhash_dedup_keep) over (doc_id,
    text), with doc_id a cross-engine md5-derived 60-bit key of the
    url.  Oracle: the same stages in SQL over a ``documents`` CTE
    mapping the committed golden articles fixture — DuckDB replays
    MinHash clustering, keep list, gate and packing over the
    reference-oracle crawl output."""
    from newscrawl import wave

    # session-memoized (a per-call persist() with no unpersist leaked one
    # cached frame per driver invocation) and keyed on the catalog's
    # current snapshot, so a later crawl into the same catalog rebuilds
    # the frame instead of serving the old articles
    catalog = _entry_catalog(spark)
    docs = session_memo(
        spark,
        "entry_docs",
        lambda: wave.read_articles(spark, catalog)
        .select(
            F.conv(F.substring(F.md5("url"), 1, 15), 16, 10)
            .cast("long")
            .alias("doc_id"),
            F.col("lang_pred").alias("lang"),
            "text",
            "quality",
            "n_tokens",
        )
        .persist(),
        catalog.root,
        catalog.current_snapshot()["snapshot_id"],
    )
    return _prepare_crawled_docs(spark, sf_dir, docs)


def _prepare_crawled_docs(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """Stage chain of the crawled corpus-prepare composite over any
    (doc_id, lang, text, quality, n_tokens) frame.  On the committed
    golden corpus the dedup leg keeps everything (126 distinct synth
    texts); tests/test_entry.py proves the leg is LIVE by injecting a
    near-duplicate article and asserting it gets pruned."""
    from newscrawl.queries import PACK_SEQ_TOKENS, q_minhash_dedup_keep

    kept_d = q_minhash_dedup_keep(
        spark, sf_dir, docs=docs.select("doc_id", "text")
    ).filter(F.col("kept") == 1).select("doc_id")
    survivors = (
        docs.filter(F.col("quality") >= F.lit(CRAWLED_MIN_QUALITY))
        .select("doc_id", "lang", "n_tokens")
        .join(kept_d, "doc_id")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return survivors.select(
        "doc_id",
        "lang",
        "n_tokens",
        (cum / PACK_SEQ_TOKENS).cast("long").alias("pack_id"),
        (cum % PACK_SEQ_TOKENS).cast("long").alias("offset_in_pack"),
    ).orderBy("doc_id")


def _sql_corpus_prepare_crawled() -> str:
    import os

    from newscrawl.queries import (
        PACK_SEQ_TOKENS,
        SQL_MINHASH_DEDUP_KEEP,
    )

    golden = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "golden", "crawl_wave_articles.parquet",
    )
    # a CTE named `documents` shadows the driver's registered view for
    # this query only; the spliced dedup-keep SQL then reads the golden
    # crawl output through the documents shape
    return f"""
WITH documents AS (
  SELECT CAST('0x' || substr(md5(url), 1, 15) AS BIGINT) AS doc_id,
         lang_pred AS lang, text, quality, n_tokens
  FROM read_parquet('{golden}')
), kd AS (
  SELECT doc_id FROM ({SQL_MINHASH_DEDUP_KEEP}) y WHERE kept = 1
), surv AS (
  SELECT d.doc_id, d.lang, d.n_tokens
  FROM documents d JOIN kd USING (doc_id)
  WHERE d.quality >= {CRAWLED_MIN_QUALITY}
), c AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM surv
)
SELECT doc_id, lang, n_tokens,
       CAST(cum // {PACK_SEQ_TOKENS} AS BIGINT) AS pack_id,
       CAST(cum % {PACK_SEQ_TOKENS} AS BIGINT) AS offset_in_pack
FROM c
ORDER BY doc_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Engine rows FIRST: the driver checks only the first 50 entries in
    # insertion order, and the composite engine rows must never fall
    # outside that window again (crawl_wave_articles was absent from
    # CORRECTNESS_r01-r03).
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "crawl_wave_articles": _crawl_wave_articles,
        "corpus_prepare_crawled": _corpus_prepare_crawled,
    }
    for name, (fn, _sql) in QUERIES.items():
        out[name] = fn
    return out


def oracle_sql() -> dict[str, str]:
    # crawl_wave_articles' oracle is the pure-Python reference-
    # control-flow oracle (newscrawl/reference_oracle.py), committed as
    # a parquet fixture by scripts/make_golden.py in the exact
    # comparator serialization (arrays |-joined, warc_ts wall-clock
    # string); tests/test_entry.py regenerates it from the oracle each
    # run, so a stale fixture fails CI before it can fail the driver.
    import os

    golden = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "golden", "crawl_wave_articles.parquet",
    )
    out = {
        "crawl_wave_articles": (
            f"SELECT * FROM read_parquet('{golden}') ORDER BY wave_id, url"
        ),
        "corpus_prepare_crawled": _sql_corpus_prepare_crawled(),
    }
    out.update({name: sql for name, (_fn, sql) in QUERIES.items()})
    return out
