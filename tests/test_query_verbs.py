"""Query-verb extensions: last_seen estimation, generalized windowed
merge (ring buckets for any sketch kind), HLL intersection, and the
CMS verbs multiplicity and heavy_hitters.
"""

import numpy as np
import pytest

from fuggetabouspark import queries as Q
from fuggetabouspark.params import CMSParams, HLLParams, KLLParams, TimingParams
from fuggetabouspark.pipeline import GROUP_SEP
from fuggetabouspark.sketches import KLL, CountMinSketch, HyperLogLog, TimingBloomFilter


class TestLastSeen:
    def test_estimates_upper_bound_and_exactness(self, rng):
        p = TimingParams(50_000, 0.001, window_ticks=1 << 20)
        f = TimingBloomFilter.zero(p)
        keys = rng.choice(10**8, 5000, replace=False).astype(np.int64)
        ticks = rng.integers(1, 1000, 5000).astype(np.int64)
        f.add_batch(keys, ticks)
        est = f.last_seen_batch(keys)
        assert (est >= ticks).all(), "estimator is an upper bound"
        assert (est == ticks).mean() > 0.99, "almost always exact at low fill"
        absent = (np.arange(1000) + 10**9).astype(np.int64)
        # unseen keys mostly report 0 (any nonzero is an FPR-level artifact)
        assert (f.last_seen_batch(absent) == 0).mean() > 0.99

    def test_resighting_moves_last_seen_forward(self):
        p = TimingParams(1000, 0.001, window_ticks=1 << 20)
        f = TimingBloomFilter.zero(p)
        k = np.array([42], dtype=np.int64)
        f.add_batch(k, 7)
        assert f.last_seen_batch(k)[0] == 7
        f.add_batch(k, 99)
        assert f.last_seen_batch(k)[0] == 99

    def test_query_verb(self, rng):
        p = TimingParams(10_000, 0.001, window_ticks=1 << 20)
        keys = rng.choice(10**7, 100, replace=False).astype(np.int64)
        sks = {("t", "web"): TimingBloomFilter.zero(p).add_batch(keys, 5)}
        out = Q.last_seen(sks, "t", keys)
        assert set(out) == {"web"} and (out["web"] == 5).all()


class TestWindowedMerge:
    def _ring(self, cls, params, values_by_bucket):
        sks = {}
        for b, vals in values_by_bucket.items():
            sk = cls.zero(params)
            sk.add_batch(np.asarray(vals))
            sks[("s", f"web{GROUP_SEP}{b}")] = sk
        return sks

    def test_windowed_quantiles_via_kll_ring(self, rng):
        """KLL ring: quantiles over only the in-window buckets."""
        p = KLLParams(128)
        old = rng.normal(0, 1, 5000)      # bucket 0 (ticks 0..9)
        new = rng.normal(100, 1, 5000)    # bucket 9 (ticks 90..99)
        sks = self._ring(KLL, p, {0: old, 9: new})
        merged = Q.windowed_merge(sks, "s", now=99, window=20, bucket_ticks=10)
        q50 = merged["web"].quantile(0.5)
        assert 95 < q50 < 105, "window must exclude the old bucket"
        merged_all = Q.windowed_merge(sks, "s", now=99, window=100, bucket_ticks=10)
        # equal-mass clusters at 0 and 100: quartiles land in each
        assert merged_all["web"].quantile(0.25) < 5, "full window includes the old bucket"
        assert merged_all["web"].quantile(0.75) > 95

    def test_decayed_cardinality_uses_ring(self, rng):
        p = HLLParams(p=12)
        a = rng.choice(10**8, 3000, replace=False).astype(np.int64)
        b = (rng.choice(10**8, 2000, replace=False) + 2 * 10**8).astype(np.int64)
        sks = self._ring(HyperLogLog, p, {0: a, 9: b})
        est = Q.decayed_cardinality(sks, "s", now=99, window=20, bucket_ticks=10)
        assert abs(est["web"] - 2000) / 2000 < 0.1


class TestHLLIntersection:
    def test_overlap_estimate(self, rng):
        p = HLLParams(p=14)
        shared = rng.choice(10**8, 20_000, replace=False).astype(np.int64)
        only_a = (rng.choice(10**8, 10_000, replace=False) + 2 * 10**8).astype(np.int64)
        only_b = (rng.choice(10**8, 10_000, replace=False) + 4 * 10**8).astype(np.int64)
        a = HyperLogLog.zero(p).add_batch(np.concatenate([shared, only_a]))
        b = HyperLogLog.zero(p).add_batch(np.concatenate([shared, only_b]))
        est = Q.hll_intersection(a, b)
        assert abs(est - 20_000) / 20_000 < 0.1


class TestCMSVerbs:
    def test_multiplicity_and_heavy_hitters_vs_exact(self):
        """On skewed (Zipf) key streams: multiplicity lies in
        [exact, exact + eps·N] for every key, and heavy_hitters over the
        exact distinct keys returns the exact top-k."""
        rng = np.random.default_rng(7)
        p = CMSParams(eps=1e-4, delta=1e-4)
        streams = {"news": rng.zipf(1.5, 30_000), "web": rng.zipf(1.3, 50_000)}
        sks = {("f", g): CountMinSketch.zero(p).add_batch(s) for g, s in streams.items()}
        sks[("other", "web")] = CountMinSketch.zero(p).add_batch(np.arange(10))
        exact = {g: np.unique(s, return_counts=True) for g, s in streams.items()}

        est = Q.multiplicity(sks, "f", exact["web"][0])
        assert set(est) == {"news", "web"}
        keys, counts = exact["web"]
        assert (est["web"] >= counts).all()
        assert (est["web"] <= counts + p.eps * streams["web"].size).all()

        k = 10
        top = Q.heavy_hitters(sks, "f", {g: keys for g, (keys, _) in exact.items()}, k)
        for g, (keys, counts) in exact.items():
            order = np.lexsort((keys, -counts))[:k]
            assert [key for key, _ in top[g]] == keys[order].tolist(), g
            got = np.array([n for _, n in top[g]])
            assert (got >= counts[order]).all()
            assert (got <= counts[order] + p.eps * streams[g].size).all()
        # a group without candidates is skipped
        assert set(Q.heavy_hitters(sks, "f", {"web": exact["web"][0]}, k)) == {"web"}
