"""BloomFilteringPostingsFormat: a bloom-filter sidecar over the term
dictionary that answers "definitely NOT in this index" without touching
the dictionary itself.

Reference (lucene/codecs/src/java/org/apache/lucene/codecs/bloom/):
- FuzzySet.java — the NO/MAYBE set: bitset sizes are all-ones numbers so
  `hash & bloomSize` is the modulo (java:95-105); quality sizing via the
  -n·ln(1-saturation) unique-value estimate (java:118-130, 292-299);
  downsize() re-projects set bits into the first all-ones size meeting a
  target saturation (java:249-284); negative hashes negate (java:158-163,
  i.e. Integer.MIN_VALUE stays negative — replicated).
- MurmurHash2.java:42-103 — 32-bit Murmur2, seed 0x9747b28c, with
  Java's SIGNED byte loads: the high byte of each 4-byte block and every
  tail byte sign-extend into the int (only the low three block bytes are
  masked) — a faithful bug-for-bug port verified against the compiled
  reference class (tools/bloom_oracle pattern, tests/test_bloom.py).
- DefaultBloomFilterFactory.java — 10% target saturation, skip-if-
  saturated threshold 0.9.
- BloomFilteringPostingsFormat.java:380-470 — one filter per field,
  built while terms flush, downsized and persisted at close.

Spark shape: the sidecar builds DISTRIBUTED — one Arrow-batched pass
over the term dictionary computes each term's bit position, then a
groupBy(word index) with bit_or folds positions into 64-bit words; the
result is a (word_idx, bits) parquet a driver loads once into a numpy
array (8 MB at 2^26 bits). At query time `Searcher.lookup_terms`
consults it before scanning the dictionary: a NO is cached as a
negative entry with ZERO Spark jobs — the exact benefit the reference
format exists for (primary-key / tail-term probes on indexes where most
probes miss).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

__all__ = ["murmurhash2_32", "FuzzySet", "build_bloom_sidecar", "BloomDict"]

_SEED = 0x9747B28C
_M = 0x5BD1E995
_MASK32 = 0xFFFFFFFF

# bitset sizes that are all ones in binary (FuzzySet.usableBitSetSizes):
# 3, 7, 15, ... up to 2^31-1
USABLE_BITSET_SIZES = [(1 << (i + 2)) - 1 for i in range(30)]


def _signed32(x: int) -> int:
    x &= _MASK32
    return x - (1 << 32) if x >= (1 << 31) else x


def murmurhash2_32(data: bytes) -> int:
    """MurmurHash2.hash32 with Java's signed-byte semantics: the top byte
    of each little-endian 4-byte block sign-extends (data[i+3] is a
    signed Java byte shifted left 24 with no mask), as does every tail
    byte. Returns a SIGNED 32-bit int like the Java method."""
    length = len(data)
    h = (_SEED ^ length) & _MASK32
    n4 = length >> 2
    for i in range(n4):
        i4 = i << 2
        k = data[i4 + 3]
        if k >= 0x80:
            k -= 0x100  # Java byte sign extension of the high byte
        k = (k << 8) | data[i4 + 2]
        k = (k << 8) | data[i4 + 1]
        k = (k << 8) | data[i4]
        k = (k * _M) & _MASK32
        k ^= k >> 24
        k = (k * _M) & _MASK32
        h = (h * _M) & _MASK32
        h ^= k
    left = length - (n4 << 2)
    if left:
        def sbyte(b):
            return b - 0x100 if b >= 0x80 else b

        if left >= 3:
            h = (h ^ (sbyte(data[length - 3]) << 16)) & _MASK32
        if left >= 2:
            h = (h ^ (sbyte(data[length - 2]) << 8)) & _MASK32
        if left >= 1:
            h = (h ^ sbyte(data[length - 1])) & _MASK32
        h = (h * _M) & _MASK32
    h ^= h >> 13
    h = (h * _M) & _MASK32
    h ^= h >> 15
    return _signed32(h)


def _position(term: str, bloom_size: int) -> int:
    """addValue/contains hash→bit mapping: negate a negative hash (Java's
    hash*-1, so MIN_VALUE stays negative — and then &bloomSize still
    lands in range, faithfully) and AND with the all-ones size."""
    h = murmurhash2_32(term.encode("utf-8"))
    if h < 0:
        h = _signed32(-h)
    return h & bloom_size


def get_nearest_set_size(max_bits: int) -> int:
    """Largest all-ones size <= max_bits (FuzzySet.getNearestSetSize)."""
    result = USABLE_BITSET_SIZES[0]
    for s in USABLE_BITSET_SIZES:
        if s <= max_bits:
            result = s
    return result


def get_set_size_for_quality(max_values: int, saturation: float) -> int:
    """Smallest all-ones size whose estimated unique-value capacity at
    the target saturation exceeds max_values (java:118-130)."""
    for s in USABLE_BITSET_SIZES:
        n_set = int(s * saturation)
        est = int(s * -np.log1p(-(n_set / s)))
        if est > max_values:
            return s
    return -1


class FuzzySet:
    """Driver-side FuzzySet over a numpy uint64 word array."""

    def __init__(self, bloom_size: int, words: np.ndarray | None = None):
        self.bloom_size = bloom_size
        nwords = (bloom_size + 1 + 63) // 64
        self.words = (words if words is not None
                      else np.zeros(nwords, dtype=np.uint64))

    @classmethod
    def create_set_based_on_quality(cls, max_values: int,
                                    saturation: float = 0.10) -> "FuzzySet":
        size = get_set_size_for_quality(max_values, saturation)
        if size < 0:
            size = USABLE_BITSET_SIZES[-1]
        return cls(size)

    @classmethod
    def create_set_based_on_max_memory(cls, max_bytes: int) -> "FuzzySet":
        return cls(get_nearest_set_size(max_bytes))

    def add_value(self, term: str) -> None:
        pos = _position(term, self.bloom_size)
        if pos >= 0:
            self.words[pos >> 6] |= np.uint64(1 << (pos & 63))

    def contains(self, term: str) -> str:
        """'MAYBE' or 'NO' (ContainsResult)."""
        pos = _position(term, self.bloom_size)
        if self.words[pos >> 6] & np.uint64(1 << (pos & 63)):
            return "MAYBE"
        return "NO"

    def cardinality(self) -> int:
        return int(np.unpackbits(
            self.words.view(np.uint8)).sum())

    def saturation(self) -> float:
        return self.cardinality() / float(self.bloom_size)

    def estimated_unique_values(self) -> int:
        sat = self.cardinality() / self.bloom_size
        return int(self.bloom_size * -np.log1p(-sat))

    def is_saturated(self, threshold: float = 0.9) -> bool:
        return self.saturation() > threshold

    def downsize(self, target_saturation: float) -> "FuzzySet | None":
        """Re-project into the first all-ones size meeting the target
        saturation; None when already over-saturated (java:249-284)."""
        n_set = self.cardinality()
        right = self.bloom_size
        for s in USABLE_BITSET_SIZES:
            if n_set / s <= target_saturation:
                right = s
                break
        if right >= self.bloom_size:
            return None
        out = FuzzySet(right)
        bit_idx = np.flatnonzero(
            np.unpackbits(self.words.view(np.uint8), bitorder="little"))
        down = bit_idx & right
        np.bitwise_or.at(out.words, down >> 6,
                         np.uint64(1) << (down & 63).astype(np.uint64))
        return out


def build_bloom_sidecar(spark, paths, saturation: float = 0.10,
                        expected_values: int | None = None) -> str:
    """Build the bloom sidecar for an index's term dictionary — the
    BloomFilteringPostingsFormat close path, distributed: hash every
    term in one Arrow pass, fold bit positions into 64-bit words via
    groupBy(word)+bit_or (a map-side-combined aggregate over at most
    bloom_size/64 groups), persist as parquet + a JSON meta file."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    with open(paths.stats) as f:
        stats = json.load(f)
    # the live dictionary: an NRT append or merge writes a new terms dir
    terms_dir = os.path.join(paths.root, stats.get("terms_dir", "terms"))
    terms = spark.read.parquet(terms_dir).select("term")
    n = expected_values if expected_values is not None else terms.count()
    size = get_set_size_for_quality(n, saturation)
    if size < 0:
        size = USABLE_BITSET_SIZES[-1]

    @pandas_udf("long")
    def bit_pos(s: pd.Series) -> pd.Series:
        return s.map(lambda t: _position(t, size))

    words = (
        terms.select(bit_pos("term").alias("pos"))
        .select(F.expr("pos div 64").alias("word_idx"),
                F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"))
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )
    out_dir = os.path.join(paths.root, "bloom")
    words.write.mode("overwrite").parquet(out_dir)
    # max_doc names the index state the filter describes: an append grows
    # it, and a searcher stops consulting a filter that lacks the new terms
    meta = {"version": 2, "bloom_size": size, "hash": "MurmurHash2",
            "n_values": int(n), "saturation_target": saturation,
            "max_doc": int(stats["max_doc"])}
    with open(os.path.join(paths.root, "bloom_meta.json"), "w") as f:
        json.dump(meta, f)
    return out_dir


class BloomDict:
    """Query-side sidecar: loads the word array once (driver-resident,
    bloom_size/8 bytes) and filters term probes to the MAYBE subset."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self._set: FuzzySet | None = None
        with open(os.path.join(root, "bloom_meta.json")) as f:
            self.meta = json.load(f)
        # the index max_doc the filter was built at (None: older sidecar)
        self.max_doc: int | None = self.meta.get("max_doc")

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "bloom_meta.json"))

    def _load(self) -> FuzzySet:
        if self._set is None:
            size = self.meta["bloom_size"]
            rows = self.spark.read.parquet(
                os.path.join(self.root, "bloom")).collect()
            words = np.zeros((size + 1 + 63) // 64, dtype=np.uint64)
            for r in rows:
                words[r["word_idx"]] = np.uint64(r["bits"] & ((1 << 64) - 1))
            self._set = FuzzySet(size, words)
        return self._set

    def contains(self, term: str) -> str:
        return self._load().contains(term)

    def filter_terms(self, terms: list[str]) -> list[str]:
        """Drop terms the filter answers NO for — definitively absent."""
        s = self._load()
        return [t for t in terms if s.contains(t) == "MAYBE"]
