#!/usr/bin/env python
"""Regenerate PLANS.md: annotated physical plans of the headline
operators, the plan-shape evidence behind the 100 TB claims (column
pruning, broadcast placement, zero-Exchange bucketed join, no driver
materialization). Run from the repo root:

    python scripts/dump_plans.py   # writes PLANS.md
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    spark = df.sparkSession
    s = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # trim the giant lexicon CASE expressions for readability
    s = re.sub(r"CASE WHEN .*? END", "CASE …lexicon argmax… END", s)
    s = "\n".join(line[:160] for line in s.splitlines())
    return s.strip()


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from newscrawl import bucketing, extract as ex, priority, synth
    from newscrawl.queries import QUERIES

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, str]] = []

    # 1. the wave fetch join + in-scan extraction
    cfg = synth.SynthConfig(n_seed=2, n_total=8)
    pages = synth.build_pages_df(spark, cfg)
    seeds = priority.seed_ord(synth.build_seeds_df(spark, cfg))
    fetched = pages.select("url", "warc_ts", "html").join(
        F.broadcast(seeds), "url", "inner"
    )
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in fetched.schema.fields
        if f.name != "html"
    )
    extracted = fetched.mapInPandas(
        ex.extract_pages, schema=f"{in_ddl}, {ex.EXTRACT_COLUMNS}"
    )
    sections.append(
        (
            "Wave fetch join + in-scan extraction",
            "BroadcastHashJoin directly over the pages scan; the html "
            "column exists only between the scan and the extraction "
            "kernel (ArrowEvalPython/MapInPandas) — raw bytes never "
            "shuffle, never persist.",
            fmt(extracted),
        )
    )

    # 2. the bucketed zero-Exchange variant. Disable auto-broadcast so
    # the plan shows the shape a too-big-to-broadcast frontier gets
    # (with tiny demo tables the planner would broadcast and skip the
    # bucketed SMJ entirely).
    bucketing.write_bucketed(pages, "plans_pages_b", 4)
    bucketing.write_bucketed(seeds, "plans_frontier_b", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sections.append(
            (
                "Bucketed co-located fetch join (10^10-frontier path)",
                "SortMergeJoin with NO Exchange on either side: both tables "
                "bucketed+sorted on url, so every bucket pair joins where "
                "it was scanned. (autoBroadcastJoinThreshold=-1 here — the "
                "regime where the frontier exceeds any broadcast limit.)",
                fmt(
                    bucketing.bucketed_fetch(
                        spark, "plans_frontier_b", "plans_pages_b"
                    )
                ),
            )
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # 3-7. characteristic queries
    for name, note in [
        (
            "min_content_filter",
            "Filter reaches the scan (PushedFilters) and ReadSchema "
            "prunes to the two referenced columns.",
        ),
        (
            "topic_distribution",
            "Lexicon argmax compiles into the scan-side projection; ONE "
            "corpus scan feeds both the per-label aggregate and the "
            "total/rank windows (windows sit over the post-agg rows).",
        ),
        (
            "minhash_lsh_candidates",
            "Signatures come from one Arrow kernel over the scan (no "
            "shingle explode); only the tiny banded key table shuffles "
            "into the self-join.",
        ),
        (
            "embedding_near_dup",
            "Block-pair GEMM: static pair table broadcast-joined for "
            "replication, one shuffle on (bi,bj), FlatMapGroupsInPandas "
            "per block pair. No driver materialization anywhere.",
        ),
        (
            "knn_ivf",
            "IVF bucket assignment = broadcast centroids + per-vector "
            "argmax window; search touches one bucket.",
        ),
        (
            "summary_gate",
            "The recursive re-summarize fixpoint as statically-unrolled "
            "JVM higher-order filters — whole plan is one scan-side "
            "projection, zero shuffles, zero Python.",
        ),
        (
            "tfidf_top_terms",
            "df (vocabulary) side broadcasts into the tf join; one "
            "explode feeds both aggregates.",
        ),
        (
            "asof_join",
            "Backward as-of join as ONE window pass: a single Exchange "
            "on user_id, then RunningWindowFunction — no range join, no "
            "per-pair intermediates.",
        ),
        (
            "pagerank_sources",
            "Final-iteration plan: the rank vector is a localCheckpoint "
            "scan (bounded by node cardinality) broadcast into the edge "
            "join; each iteration is one broadcast join + one "
            "groupBy(dst) over the persisted edge fractions.",
        ),
        (
            "decontaminate",
            "Contamination probe as a BroadcastHashJoin: the eval set's "
            "distinct shingles broadcast; the corpus side streams its "
            "scan-side shingle hashes through with no wide shuffle.",
        ),
        (
            "repetition_filter",
            "Both repetition statistics in ONE Arrow kernel riding the "
            "scan (ArrowEvalPython/MapInPandas) — zero Exchange in the "
            "whole plan; rounding and the keep gate are scan-side "
            "projections.",
        ),
        (
            "doc_fingerprint",
            "Winnowing in ONE Arrow kernel riding the scan — zero "
            "Exchange. (The pure-JVM-expression form — concat_ws + md5 "
            "per overlapping k-gram — measured 10.6 s at sf0.1; this "
            "kernel runs the same spec in 0.9 s.)",
        ),
        (
            "quality_prune_pipeline",
            "All four gates + the first-failing-reason CASE compile into "
            "one scan-side projection: zero shuffles, zero Python.",
        ),
        (
            "exact_subseq_dedup",
            "64-token span hashes are a per-document array zip in the "
            "scan projection; the only Exchange is the final hash agg on "
            "span_hash (partitions perfectly at any corpus size).",
        ),
        (
            "dsir_importance",
            "Two conditional-sum aggregations build the vocabulary "
            "log-ratio table; totals broadcast (1 row); scoring is one "
            "join on term + a per-doc average.",
        ),
        (
            "semantic_dedup",
            "Trained centroids broadcast for assignment; the pairwise "
            "prune is an intra-bucket self-join — cluster blocking means "
            "no task ever compares across clusters.",
        ),
        (
            "pq_quantize",
            "Product-quantization code assignment: codebook (2 subspaces "
            "x 8 centroids) broadcast; distances expand to dot products "
            "in the scan-side projection; one window picks argmin per "
            "(vector, subspace).",
        ),
        (
            "sequence_pack",
            "Training-sequence packing as a PARTITIONED cumulative-sum "
            "window (per language) — never a single global sort "
            "(asserted in test_plans.py).",
        ),
        (
            "rollup_counts",
            "GROUP BY ROLLUP: one Expand node feeds one aggregation "
            "exchange — all three aggregation levels from a single scan.",
        ),
        (
            "interval_join",
            "Range join decomposed to an EQUI-join: intervals explode to "
            "their <=2 epoch buckets, the exact range predicate applies "
            "post-join — no CartesianProduct / BroadcastNestedLoopJoin "
            "anywhere (asserted).",
        ),
        (
            "bpe_train",
            "Final merge-table plan of distributed BPE training: each "
            "iteration was one explode + hash agg over the "
            "vocabulary-cardinality word table with a single winning "
            "pair crossing the driver (the plan shown is the collected "
            "merge table — bounded at N_BPE_MERGES rows).",
        ),
        (
            "bm25_topk",
            "BM25 retrieval: the query-term filter prunes the exploded "
            "term table to 3 postings lists; document-frequency side "
            "broadcasts; the top-k is a TakeOrderedAndProject, never a "
            "global sort.",
        ),
        (
            "bpe_encode",
            "Tokenizer APPLICATION: the trained word -> segmentation "
            "mapping (vocabulary-sized) broadcasts into one corpus scan "
            "— applying a tokenizer at 100 TB is a map-side "
            "BroadcastHashJoin plus a per-doc integer aggregation.",
        ),
        (
            "srp_near_dup",
            "SRP-LSH candidate -> exact-cosine verify: one embeddings "
            "scan computes the 8 sign bits (ordered folds, in-scan), "
            "the bucket equi-join bounds the pair set, and the cosine "
            "check touches candidates only — no CartesianProduct "
            "anywhere.",
        ),
        (
            "retention_cohorts",
            "Cohort retention: two aggregations keyed on user_id and "
            "(cohort, offset) — both shuffles bounded by the user "
            "dimension; day indexes are wall-clock datediff arithmetic "
            "(TIMESTAMP_NTZ never passes through a session-zone cast).",
        ),
        (
            "c4_line_filter",
            "C4-style line cleaning: the whole operator is ONE Project "
            "over the scan (five fixed line slots as column arithmetic "
            "— no explode, no Exchange); at 100 TB it is pure map.",
        ),
        (
            "hll_distinct",
            "Deterministic HyperLogLog: register update is map-side "
            "(partial max per (source,bucket) before the Exchange), "
            "merge is a 16-register max — the exact count here exists "
            "only as the demo comparison; production runs sketch-only "
            "with O(1) state per source.",
        ),
        (
            "logreg_quality",
            "Trained quality classifier scoring pass: the learned "
            "weights are literals in a single map-side Project + one "
            "4-row aggregation; training ran as 6 bounded-state "
            "aggregation jobs (3 BIGINT gradient sums each) before "
            "this plan was built.",
        ),
    ]:
        fn, _sql = QUERIES[name]
        sections.append((f"query: {name}", note, fmt(fn(spark, SF))))

    # engine path: the incremental near-dup gate probe. Prior index from
    # parquet (its real storage form) so the plan shows the streaming
    # scan; new wave is one wave's articles (broadcast-sized).
    import tempfile

    from newscrawl import dedupgate

    with tempfile.TemporaryDirectory() as td:
        prior_dir = f"{td}/minhash_bands"
        spark.createDataFrame(
            [(f"https://h/{i}", i % 4, f"k{i}", "w0000") for i in range(64)],
            "url string, band int, key string, wave_id string",
        ).write.parquet(prior_dir)
        prior = spark.read.parquet(prior_dir)
        new = spark.createDataFrame(
            [
                ("https://h/n1", "alpha beta gamma delta " * 16, "a"),
                ("https://h/n2", "epsilon zeta eta theta " * 16, "b"),
            ],
            "url string, text string, sort_key string",
        )
        flags, _kept, cached = dedupgate.wave_flags(new, prior)
        sections.append(
            (
                "engine path: incremental near-dup gate probe "
                "(semi-filter first, aggregate second)",
                "The persistent minhash_bands index (the FileScan below — "
                "the 10^10-row side at web scale) feeds the "
                "BroadcastHashJoin against the wave's distinct band keys "
                "DIRECTLY: no Exchange, no HashAggregate touches unmatched "
                "history. Only the matched rows (bounded by wave keys x "
                "sharers) are aggregated to one representative per key "
                "before the flag join. Output-identical to aggregating "
                "first (min over prior holders of a shared key == min "
                "over its sharers), but the history-side shuffle is gone — "
                "asserted in test_plans.py::"
                "test_dedup_gate_probe_broadcasts_new_side via an "
                "ancestor walk from the prior scan to the probe join.",
                fmt(flags),
            )
        )
        cached.unpersist()

    # past the broadcast bound (GATE_BROADCAST_MAX_KEYS ≈ 2.5M
    # articles/wave): the bucketed co-located probe over a
    # (band,key)-bucketed index table
    spark.sql("DROP TABLE IF EXISTS newscrawl_plans_band_index")
    dedupgate.write_band_index_bucketed(
        spark.createDataFrame(
            [(f"https://h/{i}", i % 4, f"k{i}", "w0000") for i in range(64)],
            "url string, band int, key string, wave_id string",
        ),
        "newscrawl_plans_band_index",
        n_buckets=8,
    )
    new2 = spark.createDataFrame(
        [
            ("https://h/n1", "alpha beta gamma delta " * 16, "a"),
            ("https://h/n2", "epsilon zeta eta theta " * 16, "b"),
        ],
        "url string, text string, sort_key string",
    )
    flags2, _kept2, cached2 = dedupgate.wave_flags(
        new2,
        spark.table("newscrawl_plans_band_index"),
        probe="bucketed",
        bands_table="newscrawl_plans_band_index",
        n_buckets=8,
    )
    sections.append(
        (
            "engine path: near-dup gate probe past the broadcast bound "
            "(bucketed co-located band-index join)",
            "The broadcast probe requires the wave's distinct (band, key) "
            "set to fit a broadcast — GATE_BROADCAST_MAX_KEYS (10M keys "
            "≈ 2.5M articles/wave at 4 band keys each). Beyond it, "
            "probe=\"bucketed\" writes the wave's keys with the SAME "
            "(band, key) bucket spec as the persistent index table "
            "(dedupgate.write_band_index_bucketed) and the semi-filter "
            "plans as the SortMergeJoin below with NO Exchange on the "
            "history scan — co-located, the bucketing.py fetch-join "
            "pattern. Both probe paths are output-identical "
            "(test_dedupgate.py::test_bucketed_probe_matches_broadcast); "
            "the co-location is asserted in test_plans.py::"
            "test_dedup_gate_bucketed_probe_is_colocated.",
            fmt(flags2),
        )
    )
    cached2.unpersist()

    # static analysis sections (no plan dump needed — narrative + tables
    # maintained here so regeneration preserves them)
    sections.append(
        (
            "query: knn_recall_multiprobe — the probe-P recall knob",
            "Recall@10 of multi-probe IVF vs the brute-force exact top-10\n"
            "at sf0.01 (8 seed centroids, query = vec_id 0).  One persisted\n"
            "ranked-assignment frame (vector x centroid cosine rank) serves\n"
            "every P; the per-P top-10s union into ONE left join + agg\n"
            "against the exact list.  Both engines produce the identical\n"
            "table (CORRECTNESS gate):\n\n"
            "| probes P | recall@10 | relative search cost |\n"
            "|---|---|---|\n"
            "| 1 | 0.50 | 1/8 of corpus |\n"
            "| 2 | 0.60 | 2/8 |\n"
            "| 4 | 0.80 | 4/8 |\n\n"
            "Monotone in P by construction; P=K=8 would equal brute force\n"
            "(recall 1.0).  At 100 TB the ranked frame is the IVF index\n"
            "itself (one broadcast of K centroids against the scan, no\n"
            "shuffle); the probe sweep reuses it, so evaluating the knob\n"
            "costs one extra top-k per P, not one index build per P —\n"
            "`q_knn_ivf_multiprobe(spark, sf_dir, probes=P)` exposes the\n"
            "same parameter for production use.",
            None,
        )
    )
    sections.append(
        (
            "engine path: budget_gate — the (host, salt) two-stage Window",
            "The per-host budget gate on the WAVE path (wave.py `run_wave`\n"
            "-> politeness.budget_gate) is the engine's built-in hot-key\n"
            "decomposition: phase 1 ranks within `(host,\n"
            "pmod(xxhash64(url), 16))` — no task ever sorts a whole hot\n"
            "host — and losslessly pre-prunes to `budget` rows per salt;\n"
            "phase 2 re-ranks at most `budget*16` rows per host for the\n"
            "exact answer.\n"
            "test_politeness.py::test_engine_budget_gate_salted_equals_unsalted\n"
            "proves a budgeted 2-wave crawl over the skewed hot host is\n"
            "byte-identical with n_salts=16 and n_salts=1 (naive single\n"
            "Window).  Spark 4's WindowGroupLimit pushdown truncates each\n"
            "(host, salt) group to k rows BEFORE both Exchanges, so even\n"
            "the shuffle never carries a hot host's full row set (plan:\n"
            "two WindowGroupLimit Partial nodes, Exchange on (host, _w0)\n"
            "then on host).",
            None,
        )
    )

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan evidence for the headline operators\n\n"
            "Generated by `python scripts/dump_plans.py` (re-run after "
            "plan-shape changes; asserted invariants live in "
            "tests/test_plans.py). Long lexicon CASE chains are elided "
            "for readability.\n"
        )
        for title, note, plan in sections:
            if plan is None:
                f.write(f"\n## {title}\n\n{note}\n")
            else:
                f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    spark.sql("DROP TABLE IF EXISTS plans_pages_b")
    spark.sql("DROP TABLE IF EXISTS plans_frontier_b")
    spark.stop()
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
