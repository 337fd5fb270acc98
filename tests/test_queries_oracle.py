"""Mimic the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values (exact, like a value hash).
The MinHash-family and trained-model queries are also compared at
sf0.001 and sf0.1.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from newscrawl.queries import QUERIES, SQL_MINHASH_LSH_CANDIDATES

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_DIR)


def _canon(val):
    if val is None:
        return "\x00NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        # kill -0.0 vs 0.0 and format stably
        return repr(val + 0.0)
    return repr(val)


def _rows(pdf):
    cols = sorted(pdf.columns)
    recs = [tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return sorted(recs), cols


def _assert_matches_oracle(spark, con, sf_dir, name, sql=None):
    fn, query_sql = QUERIES[name]
    got_pdf = fn(spark, sf_dir).toPandas()
    want_pdf = con.execute(sql or query_sql).df()

    got, got_cols = _rows(got_pdf)
    want, want_cols = _rows(want_pdf)
    assert got_cols == want_cols, f"{name}: column names differ"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    assert len(got) > 0, f"{name}: empty result proves nothing"
    mism = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mism, f"{name}: first value mismatches: {mism[:5]}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, SF_DIR, name)


# the MinHash family: the band-row consumers (queries._minhash_bands ->
# dedupgate.band_rows) and the cluster, keep and Jaccard-verify queries
# composed on their candidate pairs
MINHASH_FAMILY = (
    "minhash_lsh_candidates", "minhash_jaccard_est", "lsh_index_stats",
    "near_dup_clusters", "minhash_dedup_keep", "ngram_jaccard_pairs",
)


@pytest.mark.parametrize("name", MINHASH_FAMILY)
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.1"])
def test_minhash_family_matches_oracle_across_scales(spark, sf, name):
    """The oracle SQL runs with each embedded copy of the candidate
    subquery (SQL_MINHASH_LSH_CANDIDATES, verbatim) read from one
    materialized evaluation of that same text: DuckDB inlines CTEs, so
    the cluster queries' recursive walk re-runs it every step (about
    270 s per query at sf0.1 on 4 CPUs).  The sf0.01 test above runs
    every oracle string untouched."""
    sf_dir = f"{SF_DIR.rsplit('/', 1)[0]}/{sf}"
    con = _duck(sf_dir)
    _fn, sql = QUERIES[name]
    if name != "minhash_lsh_candidates" and SQL_MINHASH_LSH_CANDIDATES in sql:
        con.execute(f"CREATE TEMP TABLE cand AS {SQL_MINHASH_LSH_CANDIDATES}")
        sql = sql.replace(SQL_MINHASH_LSH_CANDIDATES, "SELECT * FROM cand")
    _assert_matches_oracle(spark, con, sf_dir, name, sql)


# the k-means family (the Lloyd loop and the queries that search or
# cluster with its trained centroids) and the GD-trained classifier
TRAINED_FAMILY = (
    "kmeans_train", "knn_ivf_trained", "knn_recall_trained",
    "semantic_dedup", "logreg_quality",
)


@pytest.mark.parametrize("name", TRAINED_FAMILY)
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.1"])
def test_trained_family_matches_oracle_across_scales(spark, sf, name):
    sf_dir = f"{SF_DIR.rsplit('/', 1)[0]}/{sf}"
    _assert_matches_oracle(spark, _duck(sf_dir), sf_dir, name)


# dsir_importance's output is round(avg(lr), 4): a doc whose float
# log-ratio sum is a tiny residual rounds to +0.0 or -0.0 depending on
# summation order, which differs between Spark and DuckDB. These are the
# known docs at sf0.001 (Spark +0.0, DuckDB -0.0) under the test session.
DSIR_SIGNED_ZEROS_SF0001 = {350, 398}


def test_dsir_signed_zero_residual_is_pinned(spark):
    """Compare dsir_importance with DuckDB at sf0.001 WITHOUT the +-0.0
    normalisation of _canon: the only differences are the known
    sign-only zeros, no more and no fewer."""
    sf = "/root/testdata/sf0.001"
    fn, sql = QUERIES["dsir_importance"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = {
        int(d): (int(n), w)
        for d, n, w in con.execute(
            f"SELECT doc_id, n_tokens, dsir_weight FROM ({sql})"
        ).fetchall()
    }
    got = {r.doc_id: (r.n_tokens, r.dsir_weight) for r in fn(spark, sf).collect()}
    assert got.keys() == want.keys()
    # repr tells -0.0 from 0.0
    diff = {d for d in got if repr(got[d]) != repr(want[d])}
    for d in diff:
        (gn, gw), (wn, ww) = got[d], want[d]
        assert gn == wn and gw == ww == 0.0, (d, got[d], want[d])
        assert math.copysign(1.0, gw) != math.copysign(1.0, ww), d
    assert diff == DSIR_SIGNED_ZEROS_SF0001, sorted(diff)


def test_gemm_block_count_bounds():
    """B = ceil(n / target) with a floor: per-task GEMM memory is bounded
    by the block target at ANY corpus size."""
    import math

    from newscrawl.queries import (
        GEMM_BLOCK_TARGET_ROWS,
        GEMM_MIN_BLOCKS,
        _gemm_block_count,
    )

    assert _gemm_block_count(0) == GEMM_MIN_BLOCKS
    assert _gemm_block_count(500) == GEMM_MIN_BLOCKS
    for n in (10**5, 10**7, 10**10):
        b = _gemm_block_count(n)
        assert math.ceil(n / b) <= GEMM_BLOCK_TARGET_ROWS
        assert b >= GEMM_MIN_BLOCKS


def test_gemm_group_rows_bounded_sf01(spark):
    """At sf0.1, every (bi,bj) shuffle group of the block-pair GEMM holds
    at most |block_i| + |block_j| rows, and no block exceeds ~4x the
    ideal n/B (hash balance) — the per-task memory bound is real."""
    from pyspark.sql import functions as F

    from newscrawl.queries import _gemm_block_count

    sf = "/root/testdata/sf0.1"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id")
    n = emb.count()
    b = _gemm_block_count(n)
    sizes = {
        r._blk: r.cnt
        for r in emb.withColumn(
            "_blk", F.pmod(F.xxhash64("vec_id"), F.lit(b)).cast("int")
        )
        .groupBy("_blk")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert sum(sizes.values()) == n
    assert max(sizes.values()) <= max(4 * n // b, 64)


def test_bpe_merge_applies_to_fixpoint(spark, tmp_path):
    """Pin the merge-application semantics on the adversarial input
    'abab': with single-pass replace the word ' a b a b ' merges only
    its first pair per iteration (' ab a b '); the spec is fixpoint
    application, so after merging ('a','b') the word is ' ab ab ' and
    the SECOND winning pair must be 'ab ab' — textbook BPE.  Both
    engines must agree row-for-row on the same crafted corpus."""
    import duckdb as ddb

    from newscrawl.queries import SQL_BPE_TRAIN, q_bpe_train

    d = tmp_path / "bpe"
    spark.createDataFrame(
        [(0, "abab abab"), (1, "abab cd")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    got = (
        q_bpe_train(spark, str(d))
        .orderBy("step")
        .collect()
    )
    # step 0 merges the most frequent pair 'a b' (3 'abab' words x 2
    # occurrences each, counted on the unmerged form)
    assert (got[0].pair, got[0].frequency) == ("a b", 6)
    # fixpoint: ' a b a b ' -> ' ab ab ', so step 1's winner is the
    # adjacent merged pair — single-pass semantics would leave
    # ' ab a b ' and pick 'ab a' here instead
    assert got[1].pair == "ab ab"

    con = ddb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d / 'documents.parquet'}/*.parquet')"
    )
    want = con.execute(
        SQL_BPE_TRAIN + " ORDER BY step"
    ).fetchall()
    assert [(r.step, r.pair, r.frequency) for r in got] == [
        (s, p, f) for s, p, f in want
    ]
