"""Bloom postings sidecar parity (lucene/codecs/bloom).

The compiled reference (MurmurHash2.java + FuzzySet.java, built from the
tree with javac) is the oracle: hash fuzz over mixed ASCII/Unicode byte
shapes, FuzzySet contains() parity, and the quality-sizing table; plus
the distributed sidecar e2e with Searcher integration (NO probes cost
zero Spark jobs).
"""

import random
import shutil
import subprocess
import sys

import pytest

from lucene_solr_spark.index.bloom import (
    USABLE_BITSET_SIZES,
    BloomDict,
    FuzzySet,
    build_bloom_sidecar,
    get_nearest_set_size,
    get_set_size_for_quality,
    murmurhash2_32,
)

ORACLE_DIR = "/tmp/bloomoracle"


def _oracle_available():
    import os

    return (shutil.which("java") is not None
            and os.path.exists(f"{ORACLE_DIR}/Oracle.class"))


def _oracle(mode: str, stdin: str) -> list[str]:
    out = subprocess.run(
        ["java", "-cp", ORACLE_DIR, "Oracle", mode],
        input=stdin.encode("utf-8"), capture_output=True, check=True)
    return out.stdout.decode("utf-8").split()


def _fuzz_words(n, seed=7):
    rng = random.Random(seed)
    words = []
    pools = [
        lambda: "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                        for _ in range(rng.randint(1, 20))),
        lambda: "".join(rng.choice("żółćąęśńźλπдокфа語漢字한국")
                        for _ in range(rng.randint(1, 8))),
        lambda: "".join(chr(rng.randint(33, 0x2fff))
                        for _ in range(rng.randint(1, 6))),
        lambda: str(rng.randint(0, 10**12)),
    ]
    for _ in range(n):
        words.append(rng.choice(pools)())
    return words


class TestMurmur:
    def test_known_values(self):
        # from the compiled reference class (this session's oracle run)
        assert murmurhash2_32(b"the") == -409777000
        assert murmurhash2_32(b"quick") == -1609866355
        assert murmurhash2_32(b"brown") == -2085955942
        assert murmurhash2_32(b"fox") == -200115389
        assert murmurhash2_32("żółć".encode("utf-8")) == 475252577

    @pytest.mark.skipif(not _oracle_available(),
                        reason="compiled reference oracle not present")
    def test_fuzz_vs_reference(self):
        words = _fuzz_words(3000)
        expected = _oracle("hash", "\n".join(words) + "\n")
        got = [str(murmurhash2_32(w.encode("utf-8"))) for w in words]
        assert got == expected

    def test_empty_and_lengths(self):
        # every tail length mod 4 exercises the sign-extending tail path
        for s in (b"", b"a", b"ab", b"abc", b"abcd", b"abcde",
                  b"\xff", b"\xff\xfe\xfd", b"\x80\x80\x80\x80"):
            h = murmurhash2_32(s)
            assert -(1 << 31) <= h < (1 << 31)


class TestSizing:
    def test_usable_sizes_are_all_ones(self):
        for s in USABLE_BITSET_SIZES:
            assert (s + 1) & s == 0 and s >= 3

    def test_nearest_set_size(self):
        assert get_nearest_set_size(16384) == 16383
        assert get_nearest_set_size(3) == 3

    def test_quality_sizes_match_reference(self):
        # golden from the compiled FuzzySet.getNearestSetSize(n, 0.1)
        assert get_set_size_for_quality(1000, 0.1) == 16383
        assert get_set_size_for_quality(100000, 0.1) == 1048575
        assert get_set_size_for_quality(1000000, 0.1) == 16777215

    @pytest.mark.skipif(not _oracle_available(),
                        reason="compiled reference oracle not present")
    def test_quality_sizes_fuzz(self):
        cases = [(n, s) for n in (10, 500, 7777, 123456, 2_000_000)
                 for s in (0.05, 0.1, 0.33, 0.5)]
        expected = _oracle("sizes", "".join(
            f"{n} {s}\n" for n, s in cases))
        got = [str(get_set_size_for_quality(n, s)) for n, s in cases]
        assert got == expected


class TestFuzzySet:
    @pytest.mark.skipif(not _oracle_available(),
                        reason="compiled reference oracle not present")
    def test_contains_parity(self):
        added = _fuzz_words(500, seed=1)
        probes = added[:100] + _fuzz_words(1000, seed=2)
        stdin = (f"{len(added)} 0.1\n" + "\n".join(added) + "\n"
                 + "\n".join(probes) + "\n")
        expected = _oracle("contains", stdin)
        fs = FuzzySet.create_set_based_on_quality(len(added), 0.1)
        for w in added:
            fs.add_value(w)
        got = ["1" if fs.contains(w) == "MAYBE" else "0" for w in probes]
        assert got == expected
        # every added value must be MAYBE (no false negatives, ever)
        assert all(fs.contains(w) == "MAYBE" for w in added)

    def test_downsize_preserves_membership(self):
        fs = FuzzySet(USABLE_BITSET_SIZES[12])  # oversized
        words = _fuzz_words(200, seed=3)
        for w in words:
            fs.add_value(w)
        smaller = fs.downsize(0.1)
        assert smaller is not None
        assert smaller.bloom_size < fs.bloom_size
        assert all(smaller.contains(w) == "MAYBE" for w in words)

    def test_downsize_none_when_saturated(self):
        fs = FuzzySet(3)
        for w in "abcdefgh":
            fs.add_value(w)
        assert fs.downsize(0.1) is None

    def test_saturation_and_estimates(self):
        fs = FuzzySet.create_set_based_on_quality(100, 0.1)
        for w in _fuzz_words(100, seed=4):
            fs.add_value(w)
        assert 0 < fs.saturation() < 0.2
        assert not fs.is_saturated()
        # the -n·ln(1-sat) estimator lands near the true count
        assert 60 <= fs.estimated_unique_values() <= 140


class TestSidecarE2E:
    @pytest.fixture(scope="class")
    def index(self, spark, tmp_path_factory):
        from lucene_solr_spark.index.build import build_index

        pages = spark.createDataFrame(
            [(f"u{i}", f"alpha{i % 7} beta{i % 5} gamma common")
             for i in range(60)], "url string, text string")
        paths = build_index(spark, pages,
                            str(tmp_path_factory.mktemp("bloom_idx")))
        build_bloom_sidecar(spark, paths)
        return paths

    def test_sidecar_answers(self, spark, index):
        bd = BloomDict(spark, index.root)
        assert bd.contains("common") == "MAYBE"
        assert bd.contains("alpha0") == "MAYBE"
        # fuzzed absent probes: overwhelmingly NO (10% saturation)
        misses = sum(bd.contains(f"zz_missing_{i}") == "NO"
                     for i in range(100))
        assert misses >= 80

    def test_searcher_skips_jobs_on_no(self, spark, index):
        from lucene_solr_spark.query.executor import Searcher

        s = Searcher(spark, index)
        assert s._bloom is not None
        probe = "definitely_absent_term_xyz"
        if s._bloom.contains(probe) == "NO":
            df = s.lookup_terms([probe])
            assert df.empty
            # cached as a negative entry without a dictionary scan
            assert s._term_info_cache[probe] is None
        # present terms still resolve through the dictionary
        df = s.lookup_terms(["common"])
        assert len(df) == 1 and int(df.iloc[0]["df"]) == 60

    def test_search_results_unchanged(self, spark, index):
        from lucene_solr_spark.query.executor import Searcher

        s = Searcher(spark, index)
        hits = s.search("common", k=5).collect()
        assert len(hits) == 5


class TestSidecarReopen:
    def test_append_reopen_finds_new_term(self, spark, tmp_path_factory):
        """A sidecar built before an NRT append lacks the appended terms: the
        reopened searcher must not answer them NO from the stale filter."""
        from lucene_solr_spark.index.build import build_index
        from lucene_solr_spark.query.executor import Searcher
        from lucene_solr_spark.streaming.nrt import append_segment

        pages = spark.createDataFrame(
            [(f"u{i}", f"alpha{i % 7} common") for i in range(30)],
            "url string, text string")
        paths = build_index(spark, pages,
                            str(tmp_path_factory.mktemp("bloom_nrt_idx")))
        build_bloom_sidecar(spark, paths)
        s = Searcher(spark, paths)
        assert s._bloom is not None and s._bloom.max_doc == 30
        probe = next(t for t in (f"fresh{i}" for i in range(1000))
                     if s._bloom.contains(t) == "NO")
        assert s.lookup_terms([probe]).empty  # cached as absent

        more = spark.createDataFrame([("new1", f"{probe} common")],
                                     "url string, text string")
        append_segment(spark, more, paths)
        s.reopen()
        assert BloomDict.exists(paths.root)  # the stale sidecar is present
        assert s._bloom is None
        assert s.lookup_terms([probe])["df"].tolist() == [1]
        assert len(s.search(probe).collect()) == 1

        # a sidecar rebuilt at the new max_doc is consulted again
        build_bloom_sidecar(spark, paths)
        s.reopen()
        assert s._bloom is not None and s._bloom.max_doc == 31
        assert s.lookup_terms([probe])["df"].tolist() == [1]
