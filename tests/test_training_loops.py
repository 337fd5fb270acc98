"""The registry's iterative training loops: the Lloyd kernel against
the JVM assignment path it replaces, Spark's round as the kernel
reproduces it, one Spark job per iteration, and no cached frame left
behind whether training succeeds or raises."""

from __future__ import annotations

import random
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from newscrawl import queries as Q

SF = "/root/testdata/sf0.001"
ROUND_VALUES = [
    0.1234565, 0.0001235, 2.675, 0.285, 1.0005, 5e-7, -2.5e-7, -5e-5,
    float("nan"), float("inf"), float("-inf"),
]


def _round_sample():
    """Doubles that sit on a decimal half at scale 6 or 4, means of
    float32 values (what the kernel rounds) and values across scales."""
    rng = random.Random(11)
    out = list(ROUND_VALUES)
    for _ in range(400):
        k = rng.randrange(-(10**7), 10**7)
        out += [(2 * k + 1) / 2 * 1e-6, (2 * k + 1) / 2 * 1e-4]
        n = rng.randrange(1, 40)
        out.append(sum(_f32(rng.uniform(-1, 1)) for _ in range(n)) / n)
        out.append(rng.uniform(-1, 1) * 10 ** rng.randrange(-12, 12))
    return out


@pytest.mark.parametrize("scale", [4, 6])
def test_spark_round_matches_f_round(spark, scale):
    df = spark.createDataFrame([(v,) for v in _round_sample()], "x double")
    got = df.select("x", F.round("x", scale).alias("r")).collect()
    # repr tells -0.0 from 0.0 and compares NaN
    want = [repr(r.r) for r in got]
    assert [repr(Q._spark_round(r.x, scale)) for r in got] == want


def _f32(x):
    return struct.unpack("f", struct.pack("f", x))[0]


def _vec(rng):
    return [_f32(rng.uniform(0.05, 1.0)) for _ in range(Q.EMB_DIM)]


def _unit(d, eps=0.0):
    v = [0.0] * Q.EMB_DIM
    v[d] = 1.0
    v[d + 1] = eps
    return v


def _fixture(spark):
    """Embedding rows and centroids that cover the JVM path's corners:
    a round(cos, 6) tie between two centroids, NULL embeddings and
    elements, short and empty vectors, duplicate and NULL vec_ids, a
    cluster that empties, and a dim whose bucket holds only a NULL
    there."""
    rng = random.Random(7)
    rows = [(i, _vec(rng)) for i in range(100, 140)]
    # cos with cent 2 is 1/sqrt(1 + 1e-6) = 0.99999950..., which rounds
    # to 1.0 at scale 6 and ties cent 5's exact 1.0: cent_id decides
    rows.append((1, _unit(0)))
    # only NULL scores: the smallest cent_id (1) takes them, and bucket
    # 1 has no other member, so its dim 1 sees only a NULL
    rows.append((2, None))
    rows.append((3, [0.5, None] + [0.25] * (Q.EMB_DIM - 2)))
    rows.append((4, [0.5]))  # zip_with pads the short side: NULL dot
    # a zero norm under a NULL dot is a NULL score, not DIVIDE_BY_ZERO
    rows += [(6, [0.0]), (7, [])]
    rows += [(5, _vec(rng)), (5, _unit(8))]  # one winner per vec_id
    rows += [(None, _unit(8)), (None, _vec(rng))]
    cents = {
        1: [-1.0] * Q.EMB_DIM,  # every real vector points away from it
        2: _unit(0, 0.001),
        5: _unit(0),
        6: [0.5] * Q.EMB_DIM,
        7: _unit(8),
    }
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    return rows, cents, emb


def test_lloyd_winner_matches_assign_to_centroids(spark):
    rows, cents, emb = _fixture(spark)
    ref = Q._assign_to_centroids(emb, Q._centroid_frame(spark, cents)).collect()
    cn = [(c, v, Q._fold_norm(v)) for c, v in sorted(cents.items())]
    groups: dict = {}
    for vid, e in rows:
        groups.setdefault(vid, []).append(e)
    got = {}
    for vid, embs in groups.items():
        live = [e for e in embs if e is not None]  # collect_list drops NULLs
        won = Q._lloyd_winner(live, cn)
        got[vid] = None if won is None else (live[won[0]], won[1])
    assert {r.vec_id for r in ref} == set(groups)
    for r in ref:
        if r.embedding is None:  # scores all NULL: adds nothing to a mean
            assert r.bucket == min(cents) and got[r.vec_id] is None
        else:
            assert got[r.vec_id] == (r.embedding, r.bucket), r.vec_id
    assert got[1][1] == 2  # the round(cos, 6) tie
    # NULL scores sort last
    assert got[3][1] == got[4][1] == got[6][1] == got[7][1] == 1
    assert {v[1] for v in got.values() if v is not None} == {1, 2, 6, 7}


def _jvm_step(spark, emb, cents):
    """One Lloyd iteration on the JVM path: _assign_to_centroids, then
    the posexplode avg per (bucket, dim).  A NULL mean keeps the old
    value, the oracle's coalesce(m.val, p.val)."""
    assigned = Q._assign_to_centroids(emb, Q._centroid_frame(spark, cents))
    means = (
        assigned.select("bucket", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("bucket", "dim")
        .agg((F.round(F.avg(F.col("val").cast("double")), 4) + F.lit(0.0)).alias("m"))
        .collect()
    )
    got = {(r.bucket, r.dim): r.m for r in means}
    return {
        cid: [
            vals[d] if got.get((cid, d)) is None else got[(cid, d)]
            for d in range(Q.EMB_DIM)
        ]
        for cid, vals in cents.items()
    }


def _kernel_step(emb, cents):
    staged = emb.groupBy("vec_id").agg(F.collect_list("embedding").alias("embs"))
    return Q._lloyd_step(staged, cents)


def _reprs(cents):
    return {c: [repr(x) for x in v] for c, v in cents.items()}


def test_lloyd_step_matches_posexplode_avg(spark):
    rows, cents, emb = _fixture(spark)
    got = _kernel_step(emb, cents)
    assert _reprs(got) == _reprs(_jvm_step(spark, emb, cents))
    assert got[5] == cents[5]  # emptied cluster keeps its centroid
    # bucket 1's only member is NULL at dim 1: the centroid keeps its
    # value there (a loop that took the NULL avg wrote NULL into it)
    assert got[1][1] == cents[1][1] and got[1][0] != cents[1][0]


def test_lloyd_kernel_matches_jvm_on_tied_scores(spark):
    """Vectors on a coarse grid in 3 dims: many (vector, centroid)
    pairs score alike, so the cent_id tie-break decides often; a
    duplicated centroid ties every pair exactly.  Three iterations."""
    rng = random.Random(5)
    grid = [-1.0, -0.5, 0.0, 0.5, 1.0]

    def vec():
        v = [rng.choice(grid) for _ in range(3)] + [0.0] * (Q.EMB_DIM - 3)
        v[rng.randrange(3)] = 1.0  # never a zero norm
        return v

    emb = spark.createDataFrame(
        [(i, vec()) for i in range(300)], "vec_id bigint, embedding array<float>"
    ).cache()
    cents = {c: vec() for c in range(1, 8)}
    cents[8] = list(cents[3])
    cn = [(c, v, Q._fold_norm(v)) for c, v in sorted(cents.items())]
    ref = Q._assign_to_centroids(emb, Q._centroid_frame(spark, cents)).collect()
    assert {r.vec_id: Q._lloyd_winner([r.embedding], cn)[1] for r in ref} == {
        r.vec_id: r.bucket for r in ref
    }
    try:
        for _ in range(Q.N_KMEANS_ITERS):
            got = _kernel_step(emb, cents)
            assert _reprs(got) == _reprs(_jvm_step(spark, emb, cents))
            cents = got
    finally:
        emb.unpersist()


def test_lloyd_winner_raises_on_zero_norm():
    cn = [(1, [1.0, 0.0], 1.0)]
    with pytest.raises(ValueError, match="zero-norm"):
        Q._lloyd_winner([[0.0, 0.0]], cn)


def _jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker()

    def last():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    j0 = last()
    fn()
    return last() - j0


def test_training_loops_run_one_job_per_iteration(spark):
    n = _jobs(spark, lambda: Q._kmeans_lloyd(spark, SF, Q.N_KMEANS_ITERS))
    assert n <= Q.N_KMEANS_ITERS + 4, n
    n = _jobs(spark, lambda: Q._logreg_fit(spark, SF))
    assert n <= Q.LOGREG_ITERS + 1, n


def _persistent(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_training_unpersists_on_success(spark, tmp_path):
    # fresh corpus paths, so the session memo builds instead of hitting
    for t in ("embeddings", "documents"):
        d = tmp_path / t
        d.mkdir()
        shutil.copy(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    before = _persistent(spark)
    assert Q.q_kmeans_train(spark, str(tmp_path / "embeddings")).count() == 512
    assert _persistent(spark) == before
    assert Q.q_logreg_quality(spark, str(tmp_path / "documents")).count() > 0
    assert _persistent(spark) == before


def test_training_unpersists_on_failure(spark, tmp_path):
    emb = tmp_path / "emb"
    emb.mkdir()
    zero = [0.0] * Q.EMB_DIM
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([1, 2, 3], pa.int64()),
                "embedding": pa.array([_unit(0), zero, _unit(4)], pa.list_(pa.float32())),
            }
        ),
        str(emb / "embeddings.parquet"),
    )
    docs = tmp_path / "docs"
    docs.mkdir()
    # a malformed n_chars fails the label cast inside the first pass
    pq.write_table(
        pa.table({"text": ["a b", "c d e"], "n_chars": ["300", "abc"]}),
        str(docs / "documents.parquet"),
    )
    before = _persistent(spark)
    with pytest.raises(Exception, match="zero-norm"):
        Q.q_kmeans_train(spark, str(emb))
    assert _persistent(spark) == before
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        Q.q_logreg_quality(spark, str(docs))
    assert _persistent(spark) == before
