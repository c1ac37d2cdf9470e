"""Query windows may only narrow a sketch's window_ticks.

A decaying sketch forgets sightings older than its window_ticks, so a
query over a wider window could miss them: a false negative, which the
library never gives in-window. Pinned here:
- queries.seen_within raises ValueError for a window wider than the
  sketch's window_ticks, and a narrower one answers exactly like the
  sketch re-windowed by queries._with_window;
- the incremental families are probed at their sketch's own
  window_ticks, and expire_ledgers prunes each family at that window,
  so in one call two families with different windows each keep
  exactly their own in-window rows.
"""

import shutil
import tempfile

import numpy as np
import pytest

from fuggetabouspark import queries as Q
from fuggetabouspark.dataops import StreamingIngestGuard, expire_ledgers
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
