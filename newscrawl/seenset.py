"""URL-seen set: exact anti-join + sharded bloom prefilter + cuckoo spill tier.

The reference's seen set is a Mongo collection with a unique index on
``url`` checked by per-row point lookups
(/root/reference/lib/repositories/link_pool_repository.py:56-79,
ingest/utils.py:7-13). At 10^10 urls the Spark equivalent is:

1. a **sharded bloom filter** (numpy bit arrays, one shard per
   ``url_hash % n_shards``) used as a *negative cache*: candidates whose
   hash definitely isn't in the bloom skip the expensive anti-join
   shuffle entirely. Blooms can false-positive, never false-negative,
   so this is an accelerator only — exactness always comes from step 3.
2. a **cuckoo-filter spill tier** for recent/deletable entries (e.g. a
   wave that must roll back): supports delete, spills to the same
   binary-blob table format.
3. the authoritative **exact left_anti join** on the raw url against the
   maybe-seen candidates (reference membership is exact string equality
   — no canonicalization; SURVEY.md §2.6).

PySpark 4.1 exposes no DataFrame bloomFilter API (only hash/xxhash64),
so the bit arrays are built with numpy inside applyInPandas and stored
as BinaryType rows (schema.BLOOM_SHARDS) — scale-independent: shard
count fixes per-shard memory, shards stream through executors.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .schema import BLOOM_SHARDS

DEFAULT_SHARDS = 16
DEFAULT_BITS_PER_SHARD = 1 << 20  # 128 KiB per shard
DEFAULT_K = 7

_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche over int64 url hashes (vectorized)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(33)
        x *= _MIX1
        x ^= x >> np.uint64(33)
        x *= _MIX2
        x ^= x >> np.uint64(33)
    return x


_FP_MIX: "np.ndarray | None" = None


def _fp_mix_table() -> np.ndarray:
    """_mix64 over the whole 16-bit fingerprint space, computed once —
    the cuckoo eviction walk and bulk paths look fingerprints up here
    instead of constructing a one-element array per mix."""
    global _FP_MIX
    if _FP_MIX is None:
        _FP_MIX = _mix64(np.arange(1 << 16, dtype=np.int64))
    return _FP_MIX


def _bit_positions(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing h1 + i*h2 (Kirsch-Mitzenmacher)."""
    u = hashes.astype(np.uint64)
    h1 = _mix64(u)
    h2 = _mix64(u ^ np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id per hash with the SAME semantics as Spark's
    ``pmod(url_hash, n_shards)`` (floor mod of the signed int64, always
    non-negative).  The distributed accel build groups by that
    expression (build_accel_rows), so every local sharding decision must
    match it exactly — the previous ``uint64 % n`` agreed only for
    power-of-two n_shards; for any other n a hash could be built into
    one shard and queried in another, a silent false-negative (re-crawl)
    hazard."""
    return np.mod(np.asarray(hashes, dtype=np.int64), n_shards)


class BloomShardSet:
    """n_shards independent blooms keyed by pmod(url_hash, n_shards)."""

    def __init__(self, n_shards: int = DEFAULT_SHARDS, m_bits: int = DEFAULT_BITS_PER_SHARD, k: int = DEFAULT_K):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k
        self.bitmaps: dict[int, np.ndarray] = {}  # shard -> uint8[m_bits/8]
        self.counts: dict[int, int] = {}

    # -- construction -------------------------------------------------
    def add_hashes(self, hashes: np.ndarray) -> None:
        hashes = np.asarray(hashes, dtype=np.int64)
        shards = _shard_of(hashes, self.n_shards)
        for s in np.unique(shards):
            hs = hashes[shards == s]
            bm = self.bitmaps.get(int(s))
            if bm is None:
                bm = np.zeros(self.m_bits // 8, dtype=np.uint8)
                self.bitmaps[int(s)] = bm
            pos = _bit_positions(hs, self.k, self.m_bits).ravel()
            np.bitwise_or.at(bm, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
            self.counts[int(s)] = self.counts.get(int(s), 0) + len(hs)

    def merge(self, other: "BloomShardSet") -> "BloomShardSet":
        if (self.n_shards, self.m_bits, self.k) != (other.n_shards, other.m_bits, other.k):
            raise ValueError("cannot merge bloom shard sets of different shape")
        for s, bm in other.bitmaps.items():
            if s in self.bitmaps:
                np.bitwise_or(self.bitmaps[s], bm, out=self.bitmaps[s])
            else:
                self.bitmaps[s] = bm.copy()
            self.counts[s] = self.counts.get(s, 0) + other.counts.get(s, 0)
        return self

    # -- query --------------------------------------------------------
    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: True = maybe seen, False = definitely new."""
        hashes = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(hashes), dtype=bool)
        if not self.bitmaps:
            return out
        shards = _shard_of(hashes, self.n_shards)
        for s in np.unique(shards):
            bm = self.bitmaps.get(int(s))
            if bm is None:
                continue
            mask = shards == s
            pos = _bit_positions(hashes[mask], self.k, self.m_bits)
            bits = (bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            out[mask] = bits.all(axis=1)
        return out

    # -- (de)serialization ---------------------------------------------
    def to_rows(self) -> list[tuple[int, bytes, int]]:
        return [
            (s, self.bitmaps[s].tobytes(), self.counts.get(s, 0))
            for s in sorted(self.bitmaps)
        ]

    @classmethod
    def from_rows(cls, rows, n_shards: int = DEFAULT_SHARDS, m_bits: int = DEFAULT_BITS_PER_SHARD, k: int = DEFAULT_K) -> "BloomShardSet":
        bs = cls(n_shards, m_bits, k)
        for shard, bitmap, n in rows:
            bm = np.frombuffer(bytes(bitmap), dtype=np.uint8).copy()
            if shard in bs.bitmaps:
                np.bitwise_or(bs.bitmaps[shard], bm, out=bs.bitmaps[shard])
                bs.counts[shard] += int(n)
            else:
                bs.bitmaps[shard] = bm
                bs.counts[shard] = int(n)
        return bs

    def fpp(self, shard: int) -> float:
        """Theoretical false-positive rate of one shard."""
        n = self.counts.get(shard, 0)
        return (1.0 - math.exp(-self.k * n / self.m_bits)) ** self.k


def build_bloom_rows(seen_delta: DataFrame, n_shards: int = DEFAULT_SHARDS, m_bits: int = DEFAULT_BITS_PER_SHARD, k: int = DEFAULT_K) -> DataFrame:
    """Distributed bloom build: group the wave's seen-delta by shard and
    emit one (shard, bitmap, n_items) row per shard via applyInPandas.
    Shard-local memory = m_bits/8 regardless of total seen-set size."""
    import pandas as pd

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        bs = BloomShardSet(n_shards, m_bits, k)
        bs.add_hashes(pdf["url_hash"].to_numpy(dtype=np.int64))
        rows = bs.to_rows()
        return pd.DataFrame(rows, columns=["shard", "bitmap", "n_items"])

    return (
        seen_delta.select("url_hash")
        .withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
        .groupBy("shard")
        .applyInPandas(per_shard, schema=BLOOM_SHARDS)
    )


def antijoin_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: BloomShardSet | None = None,
    spill: "CuckooShardSet | None" = None,
) -> DataFrame:
    """Rows of ``candidates`` whose url is NOT in ``seen`` (exact).

    With an accelerator, definitely-new candidates bypass the anti-join
    shuffle; only maybe-seen candidates join against the seen table. The
    accelerator is the union of two tiers — the immutable merged BLOOM
    (all but the most recent waves) and the deletable CUCKOO spill
    (the recent-wave window; its entries vanish with a rollback instead
    of poisoning the bloom). Correct for any tier contents because
    neither tier has false negatives over the waves it covers.
    ``candidates`` must carry ``url_hash`` (xxhash64 of url).
    """
    seen_urls = seen.select("url")
    has_bloom = bloom is not None and bloom.bitmaps
    has_spill = spill is not None and spill.filters
    if not has_bloom and not has_spill:
        return candidates.join(seen_urls, "url", "left_anti")

    spark = candidates.sparkSession
    b = spark.sparkContext.broadcast(bloom.to_rows() if has_bloom else [])
    c = spark.sparkContext.broadcast(spill.to_rows() if has_spill else [])
    n_shards = bloom.n_shards if has_bloom else DEFAULT_SHARDS
    m_bits = bloom.m_bits if has_bloom else DEFAULT_BITS_PER_SHARD
    k = bloom.k if has_bloom else DEFAULT_K
    spill_shards = spill.n_shards if has_spill else DEFAULT_SHARDS

    def check(batch_iter):
        bs = BloomShardSet.from_rows(b.value, n_shards, m_bits, k)
        cs = CuckooShardSet.from_rows(c.value, spill_shards)
        for pdf in batch_iter:
            pdf = pdf.copy()
            hs = pdf["url_hash"].to_numpy(dtype=np.int64)
            pdf["maybe_seen"] = bs.maybe_contains(hs) | cs.maybe_contains(hs)
            yield pdf

    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    flagged = candidates.mapInPandas(check, schema=f"{in_ddl}, maybe_seen boolean")
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(maybe.join(seen_urls, "url", "left_anti"))


# ---------------------------------------------------------------------------
# Cuckoo-filter spill tier (deletable membership for recent waves)
# ---------------------------------------------------------------------------


class CuckooFilter:
    """Minimal cuckoo filter: 2 candidate buckets, 4 slots, 16-bit
    fingerprints, deterministic eviction (seeded by the filter itself,
    no wall-clock / random state — reproducible across runs).

    Used as the deletable tier for the current wave's freshly discovered
    urls: if a wave aborts before commit, its entries are removed instead
    of poisoning the immutable bloom tier. Spills to the same
    (shard, bitmap, n_items) binary row format as the blooms.

    Rollback-safety under overflow: when the eviction walk exhausts
    MAX_KICKS the final displaced fingerprint — which belongs to a
    PREVIOUSLY added item — is parked in a one-slot victim stash that
    ``contains``/``delete`` consult, so a failed ``add`` can never turn
    an earlier successful ``add`` into a false negative. ``add`` still
    returns False to signal "full, spill to a bigger filter".
    """

    SLOTS = 4
    MAX_KICKS = 250

    def __init__(self, n_buckets: int = 1 << 14):
        if n_buckets <= 0 or n_buckets & (n_buckets - 1):
            raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self.n_items = 0
        self._kick_state = np.uint64(0x243F6A8885A308D3)
        self.victim = 0  # stashed fingerprint displaced by a failed add (0 = empty)

    def _fp_and_buckets(self, h: int) -> tuple[np.uint16, int, int]:
        mixed = _mix64(np.array([h], dtype=np.int64))[0]
        fp = np.uint16((mixed & np.uint64(0xFFFF)) or 1)
        i1 = int(mixed >> np.uint64(16)) & (self.n_buckets - 1)
        fph = int(_mix64(np.array([int(fp)], dtype=np.int64))[0])
        i2 = (i1 ^ fph) & (self.n_buckets - 1)
        return fp, i1, i2

    def add(self, h: int) -> bool:
        fp, i1, i2 = self._fp_and_buckets(h)
        return self._insert(fp, i1, i2)

    def add_many(self, hashes: np.ndarray) -> bool:
        """Bulk add: fingerprints/buckets computed in ONE vectorized pass
        (the scalar path pays two np.array constructions per item), then
        the identical placement/eviction logic per item via _insert —
        bit-identical table to sequential add() calls. Returns False if
        any add overflowed (caller grows and rebuilds)."""
        hashes = np.asarray(hashes, dtype=np.int64)
        if not len(hashes):
            return True
        mask = np.uint64(self.n_buckets - 1)
        mixed = _mix64(hashes)
        fp64 = mixed & np.uint64(0xFFFF)
        fp64[fp64 == 0] = 1
        i1s = ((mixed >> np.uint64(16)) & mask).astype(np.int64)
        i2s = ((i1s.astype(np.uint64) ^ _fp_mix_table()[fp64.astype(np.int64)]) & mask).astype(np.int64)
        ok = True
        for fp, i1, i2 in zip(
            fp64.astype(np.uint16).tolist(), i1s.tolist(), i2s.tolist()
        ):
            ok &= self._insert(np.uint16(fp), int(i1), int(i2))
            if not ok:
                return False
        return ok

    def _insert(self, fp: np.uint16, i1: int, i2: int) -> bool:
        if self.victim:
            return False  # already overflowed — caller must spill/grow
        for i in (i1, i2):
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = fp
                self.n_items += 1
                return True
        # deterministic eviction walk
        i = i1
        cur = fp
        fpmix = _fp_mix_table()
        for kick in range(self.MAX_KICKS):
            self._kick_state = _mix64(
                np.array([(int(self._kick_state) + kick) & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64)
            )[0]
            slot = int(self._kick_state) % self.SLOTS
            cur, self.table[i, slot] = self.table[i, slot], cur
            fph = int(fpmix[int(cur)])
            i = (i ^ fph) & (self.n_buckets - 1)
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = cur
                self.n_items += 1
                return True
        # Walk exhausted: park the dangling fingerprint (which belongs
        # to a PREVIOUSLY added item — the new item's fp entered the
        # table on the first swap) in the victim stash instead of
        # dropping it. Every item ever added remains queryable; False
        # only signals saturation — caller must spill to a bigger filter.
        self.victim = int(cur)
        self.n_items += 1
        return False

    def contains(self, h: int) -> bool:
        fp, i1, i2 = self._fp_and_buckets(h)
        return bool(
            (self.table[i1] == fp).any()
            or (self.table[i2] == fp).any()
            or self.victim == int(fp)
        )

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized ``contains`` over int64 url hashes (exactly the
        scalar arithmetic of _fp_and_buckets, batched — the prefilter
        kernel path). No false negatives by the same argument."""
        hashes = np.asarray(hashes, dtype=np.int64)
        if not len(hashes):
            return np.zeros(0, dtype=bool)
        mask = np.uint64(self.n_buckets - 1)
        mixed = _mix64(hashes)
        fp64 = mixed & np.uint64(0xFFFF)
        fp64[fp64 == 0] = 1
        fp16 = fp64.astype(np.uint16)
        i1 = ((mixed >> np.uint64(16)) & mask).astype(np.int64)
        fph = _mix64(fp64.astype(np.int64))
        i2 = ((i1.astype(np.uint64) ^ fph) & mask).astype(np.int64)
        hit = (self.table[i1] == fp16[:, None]).any(axis=1)
        hit |= (self.table[i2] == fp16[:, None]).any(axis=1)
        if self.victim:
            hit |= fp16 == np.uint16(self.victim)
        return hit

    def delete(self, h: int) -> bool:
        fp, i1, i2 = self._fp_and_buckets(h)
        for i in (i1, i2):
            hit = np.where(self.table[i] == fp)[0]
            if len(hit):
                self.table[i, hit[0]] = 0
                self.n_items -= 1
                return True
        if self.victim == int(fp):
            self.victim = 0
            self.n_items -= 1
            return True
        return False

    def to_rows(self, shard: int = 0) -> list[tuple[int, bytes, int]]:
        # victim stash rides along as one trailing uint16
        blob = self.table.tobytes() + np.uint16(self.victim).tobytes()
        return [(shard, blob, self.n_items)]

    @classmethod
    def from_rows(cls, rows, n_buckets: int = 1 << 14) -> "CuckooFilter":
        cf = cls(n_buckets)
        for _shard, blob, n in rows:
            flat = np.frombuffer(bytes(blob), dtype=np.uint16)
            n_table = n_buckets * cls.SLOTS
            cf.table = flat[:n_table].reshape(n_buckets, cls.SLOTS).copy()
            cf.victim = int(flat[n_table]) if len(flat) > n_table else 0
            cf.n_items = int(n)
        return cf

    @classmethod
    def from_blob(cls, blob: bytes, n_items: int) -> "CuckooFilter":
        """Rehydrate inferring n_buckets from the blob length (table is
        n_buckets*SLOTS uint16 + 1 victim uint16) — filters built with
        grow-on-overflow have per-instance sizes."""
        flat = np.frombuffer(bytes(blob), dtype=np.uint16)
        n_buckets = (len(flat) - 1) // cls.SLOTS
        cf = cls(n_buckets)
        cf.table = flat[: n_buckets * cls.SLOTS].reshape(n_buckets, cls.SLOTS).copy()
        cf.victim = int(flat[n_buckets * cls.SLOTS])
        cf.n_items = int(n_items)
        return cf


def build_cuckoo(hashes: np.ndarray, n_buckets: int = 1 << 10) -> CuckooFilter:
    """Build a cuckoo filter over int64 hashes, presized to ~85% load
    and doubling capacity until every add lands (deterministic: same
    hashes -> same final size and table)."""
    hashes = np.asarray(hashes, dtype=np.int64)
    need = int(len(hashes) / (CuckooFilter.SLOTS * 0.85)) + 1
    while n_buckets < need:
        n_buckets *= 2
    while True:
        cf = CuckooFilter(n_buckets)
        if cf.add_many(hashes):
            return cf
        n_buckets *= 2


def build_accel_rows(
    seen_delta: DataFrame,
    n_shards: int = DEFAULT_SHARDS,
    m_bits: int = DEFAULT_BITS_PER_SHARD,
    k: int = DEFAULT_K,
) -> DataFrame:
    """ONE distributed pass building BOTH accelerator tiers' rows for a
    wave's seen-delta: per shard, the deletable cuckoo blob (serves the
    spill window now) and the bloom bitmap (rides along as the
    precomputed fold input — when this wave later LEAVES the spill
    window, the driver ORs these bitmaps into the merged bloom with no
    Spark job and no re-read of the delta). Hashes are sorted before the
    cuckoo build so the filter bytes are insertion-order-deterministic
    (replay/resume stays byte-identical)."""
    import pandas as pd

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        hs = np.sort(pdf["url_hash"].to_numpy(dtype=np.int64))
        shard = int(pdf["shard"].iat[0])
        cf = build_cuckoo(hs)
        bs = BloomShardSet(n_shards, m_bits, k)
        bs.add_hashes(hs)
        (_s, bloom_blob, n) = bs.to_rows()[0]
        return pd.DataFrame(
            [(shard, cf.to_rows()[0][1], bloom_blob, n)],
            columns=["shard", "cuckoo", "bloom", "n_items"],
        )

    return (
        seen_delta.select("url_hash")
        .withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
        .groupBy("shard")
        .applyInPandas(
            per_shard,
            schema="shard int, cuckoo binary, bloom binary, n_items long",
        )
    )


class CuckooShardSet:
    """The spill tier loaded for prefiltering: per-(wave, shard) cuckoo
    filters, consulted alongside the bloom. Sharding key matches the
    blooms (url_hash mod n_shards)."""

    def __init__(self, n_shards: int = DEFAULT_SHARDS):
        self.n_shards = n_shards
        # (wave_index, shard) -> CuckooFilter
        self.filters: dict[tuple[int, int], CuckooFilter] = {}

    @classmethod
    def from_rows(cls, rows, n_shards: int = DEFAULT_SHARDS) -> "CuckooShardSet":
        cs = cls(n_shards)
        for wave_index, shard, blob, n_items in rows:
            cs.filters[(int(wave_index), int(shard))] = CuckooFilter.from_blob(
                blob, n_items
            )
        return cs

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(hashes), dtype=bool)
        if not self.filters or not len(hashes):
            return out
        shards = _shard_of(hashes, self.n_shards)
        for (wi, s), cf in self.filters.items():
            mask = shards == s
            if mask.any():
                out[mask] |= cf.contains_many(hashes[mask])
        return out

    def to_rows(self) -> list[tuple[int, int, bytes, int]]:
        return [
            (wi, s, cf.to_rows()[0][1], cf.n_items)
            for (wi, s), cf in sorted(self.filters.items())
        ]
