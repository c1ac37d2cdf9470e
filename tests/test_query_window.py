"""Query windows may only narrow a sketch's window_ticks.

A decaying sketch forgets sightings older than its window_ticks, so a
query over a wider window could miss them: a false negative, which the
library never gives in-window. Pinned here:
- queries.seen_within and incremental_dedup(window=...) raise ValueError
  for a window wider than the sketch's window_ticks, and a narrower one
  answers exactly like the sketch re-windowed by queries._with_window;
- expire_ledgers prunes each family at its own sketch's window_ticks, so
  in one call two families with different windows each keep exactly
  their own in-window rows.
"""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuggetabouspark import queries as Q
from fuggetabouspark.dataops import (
    StreamingIngestGuard,
    expire_ledgers,
    incremental_dedup,
    load_dedup_state,
)
from fuggetabouspark.dataops import incremental as I
from fuggetabouspark.params import TimingParams
from fuggetabouspark.sketches import TimingBloomFilter

DDL = "doc_id long, text string"


@pytest.fixture()
def ck():
    d = tempfile.mkdtemp(prefix="fgs_qwin_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestSeenWithinWindow:
    P = TimingParams(10_000, 0.001, window_ticks=8)

    def _sketches(self):
        # key k was last seen at tick k (1..8)
        keys = np.arange(1, 9, dtype=np.int64)
        sk = TimingBloomFilter.zero(self.P)
        for k in keys:
            sk.add_batch(keys[k - 1:k], int(k))
        return {("t", "web"): sk}, keys

    def test_wider_window_raises(self):
        sks, keys = self._sketches()
        with pytest.raises(ValueError, match="exceeds the sketch's window_ticks 8"):
            Q.seen_within(sks, "t", keys, now=8, window=9)

    def test_narrower_window_answers_like_rewindowed_sketch(self):
        sks, keys = self._sketches()
        sk = sks[("t", "web")]
        for w in (1, 3, 8):
            got = [s for _, _, s in Q.seen_within(sks, "t", keys, now=8, window=w)]
            assert got == Q._with_window(sk, w).contains_batch(keys, 8).tolist()
            # a window of w ticks at now=8 sees the sightings at ticks 9-w..8
            assert got == (keys >= 9 - w).tolist()
        default = [s for _, _, s in Q.seen_within(sks, "t", keys, now=8)]
        assert default == sk.contains_batch(keys, 8).tolist() == [True] * 8


class TestIncrementalDedupWindow:
    P = TimingParams(capacity=1000, error=0.001, window_ticks=5)

    def test_window_is_only_narrowed(self, spark, ck):
        incremental_dedup(spark, spark.createDataFrame(
            [(1, "old text"), (2, "older text")], DDL), ck, now=1, params=self.P)
        incremental_dedup(spark, spark.createDataFrame(
            [(3, "recent text")], DDL), ck, now=4, params=self.P)
        shard = spark.createDataFrame(
            [(10, "old text"), (11, "recent text"), (12, "new text")], DDL
        )
        with pytest.raises(ValueError, match="exceeds the sketch's window_ticks 5"):
            incremental_dedup(spark, shard, ck, now=5, window=6, update_state=False)

        sk = load_dedup_state(spark, ck)
        fps = np.array(
            [r.fp for r in shard.select(F.xxhash64("text").alias("fp")).collect()], np.int64
        )
        want = {None: [True, True, False], 5: [True, True, False], 2: [False, True, False]}
        for w, flags in want.items():
            ann = incremental_dedup(spark, shard, ck, now=5, window=w, update_state=False)
            got = [r.is_dup_history for r in ann.orderBy("doc_id").collect()]
            assert got == flags, w
            rewindowed = sk if w is None else Q._with_window(sk, w)
            assert got == rewindowed.contains_batch(fps, 5).tolist(), w
            ann.unpersist()
        # the queries were pure: still one committed shard per ingest
        assert len(I.EXACT.log(ck).metas()) == 2


class TestExpireMixedWindows:
    @pytest.mark.parametrize("rewrite", ["driver", "spark"])
    def test_each_family_keeps_its_own_window(self, spark, ck, monkeypatch, rewrite):
        """The exact family's sketch window is 2 ticks and the near
        family's 3: expiry at tick 4 keeps the exact ledger's ticks 3-4
        and the near ledgers' ticks 2-4, on either rewrite path."""
        def p(w):
            return TimingParams(capacity=10_000, error=0.001, window_ticks=w)

        g = StreamingIngestGuard(
            spark, ck, params=p(2), near=True, near_params=p(3), compact_every=None
        )
        rng = np.random.default_rng(5)
        for e in range(4):  # ticks 1..4
            rows = [
                (e * 10 + i, " ".join(f"w{v}" for v in rng.integers(0, 10**6, 30)))
                for i in range(4)
            ]
            g.process_batch(spark.createDataFrame(rows, DDL), e)

        def ledgers():
            out = {}
            for fam in (I.EXACT, I.NEAR):
                for name, (_, ddl) in fam.ledgers.items():
                    out[name] = I._read_swap(spark, fam.path(ck, name), ddl).collect()
            return out

        before = ledgers()
        assert {r.tick for r in before["fp_ledger"]} == {1, 2, 3, 4}
        if rewrite == "spark":
            monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", 0)
        report = expire_ledgers(spark, ck, now=4)
        after = ledgers()
        lo = {"fp_ledger": 3, "band_ledger": 2, "sig_ledger": 2}
        for name, rows in before.items():
            want = sorted(repr(tuple(r)) for r in rows if r.tick >= lo[name])
            assert sorted(repr(tuple(r)) for r in after[name]) == want, name
            assert report[name] == len(want) > 0, name
        assert set(report) == set(lo)
