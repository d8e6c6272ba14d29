"""Explicit Bloom-filter pre-prune stage (reference I1/I2).

The reference fronts every disk index probe with a Bloom filter whose
negative lookups short-circuit the expensive path
(/root/reference/src/HashDB.cpp:372, 429-431), sized by the optimal
(m, k) solver (/root/reference/src/BloomFilter.cpp:36-83) with a
serialize/deserialize round trip (:439-487). This module is the same operator,
Spark-first:

  * **build** is a distributed aggregate: every key contributes its k
    bit positions (JVM-side ``xxhash64(key, j)`` — a seeded hash family,
    the reference's 128-salt hashAP, BloomFilter.cpp:334-375), positions
    fold into 64-bit words with a map-side-combined ``bit_or`` groupBy,
    and only the ~m/64 words reach the driver. Identical role to
    ``Dataset.stat.bloomFilter`` (a treeAggregate over the column) —
    PySpark 4 removed that binding and the JVM object's V2 wire format
    is private, so building via the public aggregate API keeps the probe
    side bit-for-bit reproducible from SQL expressions alone.
  * **probe** filters a DataFrame map-side — no shuffle: bit positions
    are computed by the same JVM expressions, and the only Python
    crossing is a vectorized numpy bitmap gather over Arrow batches
    (never per-row logic). The bitmap travels once per executor via a
    broadcast that is **cached on the filter** and re-used across
    probes; ``release()`` destroys it (wired into
    ``PipelineResult.release`` via the ``unpersist`` alias).
  * **no false negatives** by construction: build and probe evaluate
    the same deterministic expression family, so every inserted key
    probes positive; false positives at rate ``fpp`` merely pass a few
    extra rows to the exact stage (harmless for candidate generation).

Scale bound — **sharding** (reference analog: HashDB's bounded
per-bucket filters, /root/reference/src/HashDB.cpp:83,
include/HashDB.h:30-34): a monolithic bitmap over 10^12 fingerprints at
fpp=1e-4 is ~2.4 TB of driver memory. ``build_bloom(..., shards=S)``
splits the key space by ``pmod(xxhash64(key, -1), S)`` into S
independently-sized filters laid out in one flat word array with
per-shard bit offsets; every shard is sized by its own key count, and
build/probe stay single-pass (the shard's bit width and word offset are
literal-array lookups inside the same JVM expression family). The
driver object is the same total size, but each *build aggregate* and
each future *partial rebuild* is bounded per shard, and shards can be
built/persisted independently. The hard cap is
``max_driver_bytes``: when the estimated bitmap exceeds it the build
raises ``BloomBudgetError`` — callers (blocking.bloom_preprune
``mode="auto"``, lifecycle.register_turns_incremental) fall back to the
semi-join path, which never materializes a driver bitmap at all.

Sizing: m = -n ln p / (ln 2)^2, k = max(1, round(m/n ln 2)) — the same
formula as the reference's computeOptPara and Spark's
``BloomFilter.optimalNumOfBits``.
"""

from __future__ import annotations

import json
import struct
from dataclasses import dataclass, field
from math import ceil, log

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SHARD_SEED = -1  # shard hash seed; position seeds are 0..k-1


class BloomBudgetError(RuntimeError):
    """Estimated bitmap exceeds the driver-memory budget; use the
    semi-join path instead (no driver bitmap)."""


def optimal_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """(num_bits, num_hash) for target capacity/false-positive rate."""
    n = max(1, expected_items)
    m = max(64, int(ceil(-n * log(fpp) / (log(2) ** 2))))
    k = max(1, int(round(m / n * log(2))))
    return m, k


def estimate_bloom_bytes(expected_items: int, fpp: float) -> int:
    """Driver bytes the bitmap will occupy (words array only)."""
    m, _ = optimal_params(expected_items, fpp)
    return ((m + 63) // 64) * 8


def _positions(key: Column, num_bits: int, num_hash: int) -> list[Column]:
    """The k bit positions of ``key`` — pure JVM exprs (seeded xxhash64
    family), shared verbatim by build and probe (unsharded layout)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(j)), F.lit(num_bits)) for j in range(num_hash)
    ]


def _sharded_positions(
    key: Column, shard_bits: list[int], bit_offsets: list[int], num_hash: int
) -> list[Column]:
    """Global bit positions under the sharded layout: the key's shard
    selects its own bit width and word-aligned offset via literal-array
    lookups — still a single pure-JVM expression family shared by build
    and probe."""
    s = F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(len(shard_bits)))
    nb = F.element_at(F.array(*[F.lit(b) for b in shard_bits]), (s + 1).cast("int"))
    off = F.element_at(F.array(*[F.lit(o) for o in bit_offsets]), (s + 1).cast("int"))
    return [
        off + F.pmod(F.xxhash64(key, F.lit(j)), nb) for j in range(num_hash)
    ]


@dataclass
class Bloom:
    num_bits: int  # total bits across shards
    num_hash: int
    # compare=False: the dataclass __eq__ would otherwise evaluate
    # `self.words == other.words` elementwise and bool() it — every
    # `bloom_a == bloom_b` (or list membership test) raises ValueError
    words: np.ndarray = field(compare=False)  # uint64[ceil(num_bits/64)], flat shards
    n_items: int  # items inserted at build time (for metrics)
    # sharded layout (None => single monolithic filter)
    shard_bits: list[int] | None = None
    bit_offsets: list[int] | None = None
    _bc: object = field(default=None, repr=False, compare=False)

    # -- layout --------------------------------------------------------
    @property
    def num_shards(self) -> int:
        return len(self.shard_bits) if self.shard_bits else 1

    @property
    def driver_bytes(self) -> int:
        return int(self.words.nbytes)

    def positions_expr(self, key: Column | str) -> Column:
        key = F.col(key) if isinstance(key, str) else key
        if self.shard_bits:
            pos = _sharded_positions(key, self.shard_bits, self.bit_offsets, self.num_hash)
        else:
            pos = _positions(key, self.num_bits, self.num_hash)
        return F.array(*pos)

    # -- probe ---------------------------------------------------------
    def _broadcast(self, spark):
        """Broadcast the bitmap once per SparkContext and cache it on the
        instance — repeated probes (bench loops, multi-stage pipelines)
        must not accumulate broadcast blocks (one leak per probe call
        otherwise; released via release()/unpersist())."""
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.words)
        return self._bc

    def release(self) -> None:
        """Destroy the cached bitmap broadcast (executor + driver copies).
        Safe to call repeatedly; the next probe re-broadcasts."""
        if self._bc is not None:
            try:
                self._bc.destroy()
            except Exception:
                pass
            self._bc = None

    # lets a Bloom ride in PipelineResult.persisted next to DataFrames
    unpersist = release

    def might_contain_udf(self, spark):
        """pandas UDF array<long> global positions -> bool."""
        bc = self._broadcast(spark)
        num_hash = self.num_hash

        @F.pandas_udf("boolean")
        def might_contain(pos: pd.Series) -> pd.Series:
            w = bc.value
            mat = np.array(list(pos), dtype=np.int64)  # (n, k)
            if mat.size == 0:
                return pd.Series(np.zeros(len(pos), dtype=bool))
            hits = (w[mat >> 6] >> (mat & 63).astype(np.uint64)) & np.uint64(1)
            return pd.Series(hits.sum(axis=1) == num_hash)

        return might_contain

    def flag(self, df: DataFrame, key: Column | str, col_name: str) -> DataFrame:
        """``df`` plus a boolean ``col_name``: might the key be in the
        filter? Map-side, no shuffle; lets callers split the definite
        negatives from the maybe-positives in one pass (the reference's
        negative-lookup short-circuit, HashDB.cpp:429-431)."""
        udf = self.might_contain_udf(df.sparkSession)
        return df.withColumn(col_name, udf(self.positions_expr(key)))

    def probe(self, df: DataFrame, key: Column | str) -> DataFrame:
        """Rows of ``df`` whose key might be in the filter — a map-side
        filter (scan -> project -> Arrow batch -> filter), no shuffle."""
        return self.flag(df, key, "_bf_hit").where("_bf_hit").drop("_bf_hit")

    # -- incremental insert (same shape) -------------------------------
    def insert_df(self, df: DataFrame, key: Column | str) -> "Bloom":
        """New filter = self ∪ keys of ``df``, preserving shape — the
        incremental-registry warm path: the stored filter absorbs each
        new batch instead of rebuilding over the full registry."""
        add = _build_words(df, key, self)
        return Bloom(
            self.num_bits, self.num_hash, self.words | add.words,
            self.n_items + add.n_items, self.shard_bits, self.bit_offsets,
        )

    @property
    def fill_ratio(self) -> float:
        # popcount WITHOUT materializing an 8x unpacked copy: a full
        # np.unpackbits of a 256 MB bitmap transiently allocates ~2 GB
        # on the driver (bloom_preprune reads this per pipeline run).
        # np.bitwise_count (numpy >= 2) is allocation-free; the fallback
        # unpacks in bounded chunks.
        bytes_view = self.words.view(np.uint8)
        if hasattr(np, "bitwise_count"):
            ones = int(np.bitwise_count(bytes_view).sum(dtype=np.int64))
        else:
            chunk = 1 << 22  # 4 MB of input -> 32 MB unpacked, bounded
            ones = sum(
                int(np.unpackbits(bytes_view[i : i + chunk]).sum(dtype=np.int64))
                for i in range(0, bytes_view.size, chunk)
            )
        return ones / self.num_bits

    # -- serialization (reference BloomFilter.cpp:439-487) -------------
    def to_bytes(self) -> bytes:
        """Self-describing wire format: 4-byte header length + JSON
        header + raw little-endian words. Lets the incremental-registry
        filter persist across batches/restarts instead of rebuilding."""
        header = json.dumps(
            {
                "num_bits": self.num_bits,
                "num_hash": self.num_hash,
                "n_items": self.n_items,
                "shard_bits": self.shard_bits,
                "bit_offsets": self.bit_offsets,
            }
        ).encode()
        return struct.pack("<I", len(header)) + header + self.words.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "Bloom":
        (hlen,) = struct.unpack_from("<I", data, 0)
        meta = json.loads(data[4 : 4 + hlen].decode())
        words = np.frombuffer(data[4 + hlen :], dtype="<u8").astype(np.uint64)
        return cls(
            meta["num_bits"], meta["num_hash"], words, meta["n_items"],
            meta["shard_bits"], meta["bit_offsets"],
        )

    def save(self, path: str) -> None:
        with open(path, "wb") as f:
            f.write(self.to_bytes())

    @classmethod
    def load(cls, path: str) -> "Bloom":
        with open(path, "rb") as f:
            return cls.from_bytes(f.read())


def _build_words(df: DataFrame, key: Column | str, shape: Bloom) -> Bloom:
    """Fold every key's global bit positions into words (map-side
    combined bit_or) for an existing shape; only ~m/64 words reach the
    driver."""
    # outer + not-null: see operators/blocking.explode_blocks (the
    # inferred size>0 filter would build the position array twice)
    pos = F.explode_outer(shape.positions_expr(key)).alias("pos")
    word_rows = (
        df.select(pos)
        .where(F.col("pos").isNotNull())
        .select(
            F.shiftright("pos", 6).alias("w"),
            # shiftleft's python binding wants a literal shift; the SQL
            # form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"), F.count("*").alias("n"))
        .collect()
    )
    words = np.zeros((shape.num_bits + 63) // 64, dtype=np.uint64)
    n = 0
    for r in word_rows:
        words[int(r["w"])] = np.uint64(int(r["bits"]) & 0xFFFFFFFFFFFFFFFF)
        n += int(r["n"])
    return Bloom(shape.num_bits, shape.num_hash, words,
                 n // max(1, shape.num_hash), shape.shard_bits, shape.bit_offsets)


def build_bloom(
    df: DataFrame,
    key: Column | str,
    expected_items: int | None = None,
    fpp: float = 1e-4,
    shards: int = 1,
    max_driver_bytes: int | None = None,
    num_bits: int | None = None,
    num_hash: int | None = None,
) -> Bloom:
    """Distributed build: explode each key into its k positions, fold to
    words with bit_or (map-side combine), collect ~m/64 words.

    ``expected_items`` defaults to a count of ``df`` (one extra job).
    ``shards > 1`` builds S independently-sized filters keyed by
    ``pmod(xxhash64(key, -1), S)`` in one flat word array (each shard
    sized by its own key count — the per-shard count scan replaces the
    plain count). ``max_driver_bytes`` raises :class:`BloomBudgetError`
    *before* any bitmap materializes when the estimate exceeds it.
    ``num_bits``/``num_hash`` override sizing to force a shape (building
    shape-compatible filters for insert_df; unsharded only).

    This is an action — the filter materializes on the driver, exactly
    like the reference building its BF before the probe loop
    (src/deduplication.cpp:723-736).
    """
    key = F.col(key) if isinstance(key, str) else key

    if num_bits is not None:
        if shards != 1:
            raise ValueError("explicit num_bits is only supported unsharded")
        if num_hash is None:
            raise ValueError("explicit num_bits requires explicit num_hash")
        shape = Bloom(num_bits, num_hash, np.zeros(0, dtype=np.uint64), 0)
        _check_budget(num_bits, max_driver_bytes)
        built = _build_words(df, key, shape)
        if expected_items is not None:
            built.n_items = expected_items
        return built

    if shards <= 1:
        n = expected_items if expected_items is not None else df.select(key).count()
        m, k = optimal_params(n, fpp)
        _check_budget(m, max_driver_bytes)
        shape = Bloom(m, k, np.zeros(0, dtype=np.uint64), 0)
        built = _build_words(df, key, shape)
        built.n_items = n
        return built

    # sharded: one count-per-shard scan sizes every shard independently
    shard = F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(shards)).alias("_s")
    counts = {int(r["_s"]): int(r["n"])
              for r in df.select(shard).groupBy("_s").agg(F.count("*").alias("n")).collect()}
    n_total = sum(counts.values())
    shard_bits: list[int] = []
    bit_offsets: list[int] = []
    off = 0
    k = optimal_params(max(1, n_total // shards), fpp)[1]
    for s in range(shards):
        m_s, _ = optimal_params(counts.get(s, 0), fpp)
        m_s = ((m_s + 63) // 64) * 64  # word-align every shard
        shard_bits.append(m_s)
        bit_offsets.append(off)
        off += m_s
    _check_budget(off, max_driver_bytes)
    shape = Bloom(off, k, np.zeros(0, dtype=np.uint64), 0, shard_bits, bit_offsets)
    built = _build_words(df, key, shape)
    built.n_items = n_total
    return built


def _check_budget(num_bits: int, max_driver_bytes: int | None) -> None:
    nbytes = ((num_bits + 63) // 64) * 8
    if max_driver_bytes is not None and nbytes > max_driver_bytes:
        raise BloomBudgetError(
            f"bloom bitmap would need {nbytes} driver bytes "
            f"(> budget {max_driver_bytes}); use the semi-join path"
        )
