"""Incremental cross-shard dedup (round 4, VERDICT r03 #1): the
composition of the decaying membership sketches with the dedup family.

The correctness claims pinned here:
- planted cross-shard clones are ALL caught (zero in-window false
  negatives make sketch misses proof-of-new);
- a deliberately FPR-saturated sketch still emits text-exact flags
  (every hit is verified against the fp ledger before flagging);
- the window actually decays: clones of out-of-window history survive
  and re-enter the state, and the NEXT clone is suppressed by the
  re-ingest, not the original;
- intra-shard dups are first-occurrence-wins;
- update_state=False is a pure query.
"""

import shutil
import tempfile

import pytest
from conftest import on_guard_spark_path
from pyspark.sql import functions as F

from fuggetabouspark.dataops import (
    dedup_completed_shards,
    incremental_dedup,
    ledger_df,
)
from fuggetabouspark.params import TimingParams

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


@pytest.fixture()
def ck():
    d = tempfile.mkdtemp(prefix="fgs_incr_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestIncrementalDedup:
    def test_planted_cross_shard_clones(self, spark, docs, ck):
        shard_a = docs.where("doc_id % 2 = 0")
        clones = shard_a.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + 10**9).alias("doc_id"), "text"
        )
        shard_b = docs.where("doc_id % 2 = 1").unionByName(clones)

        a_ann = incremental_dedup(spark, shard_a, ck, now=1)
        assert a_ann.where("is_dup_history or is_dup_intra").count() == 0
        b_ann = incremental_dedup(spark, shard_b, ck, now=2)

        a_texts = {r.text for r in shard_a.select("text").distinct().collect()}
        true_hist = {
            str(r.doc_id) for r in shard_b.collect() if r.text in a_texts
        }
        got_hist = {r.doc_id for r in b_ann.where("is_dup_history").collect()}
        assert got_hist == true_hist  # text-exact, both directions
        planted = {str(r.doc_id) for r in clones.collect()}
        assert planted <= got_hist

        # ledger = one row per distinct retained text across both shards
        assert ledger_df(spark, ck).count() == docs.select("text").distinct().count()
        metas = dedup_completed_shards(spark, ck)
        assert [m["shard"] for m in metas] == [0, 1]
        assert metas[1]["n_dup_history"] == len(true_hist)
        for a in (a_ann, b_ann):
            a.unpersist()

    def test_fpr_saturated_sketch_stays_exact(self, spark, docs, ck):
        """Undersized, high-error sketch → many false-positive hits;
        the ledger verification must kill every one of them."""
        tiny = TimingParams(capacity=20, error=0.25, window_ticks=2**31)
        shard_a = docs.where("doc_id % 2 = 0")
        shard_b = docs.where("doc_id % 2 = 1")  # disjoint texts
        incremental_dedup(spark, shard_a, ck, now=1, params=tiny).unpersist()
        b_ann = incremental_dedup(spark, shard_b, ck, now=2, params=tiny)
        a_texts = {r.text for r in shard_a.select("text").collect()}
        b_texts = {r.text for r in shard_b.select("text").collect()}
        overlap = a_texts & b_texts
        got = b_ann.where("is_dup_history").count()
        assert got == sum(
            1 for r in shard_b.collect() if r.text in a_texts
        ), "FPR leaked into flags despite exact verification"
        if not overlap:
            assert got == 0
        b_ann.unpersist()

    def test_window_decay_and_reingest(self, spark, ck):
        """tick 1: ingest X. now 100 (window 10): clone of X must
        SURVIVE (history decayed) and re-enter state. now 101: next
        clone must be suppressed BY THE RE-INGEST (hist_doc_id = the
        tick-100 doc, not the tick-1 doc)."""
        W = 10
        p = TimingParams(capacity=1000, error=0.001, window_ticks=W)
        mk = lambda i: spark.createDataFrame(
            [(i, "the same immortal text")], "doc_id long, text string"
        )
        a = incremental_dedup(spark, mk(1), ck, now=1, params=p)
        assert a.collect()[0].is_dup_history is False
        b = incremental_dedup(spark, mk(2), ck, now=100, params=p)
        rb = b.collect()[0]
        assert rb.is_dup_history is False, "decayed history must not suppress"
        c = incremental_dedup(spark, mk(3), ck, now=101, params=p)
        rc = c.collect()[0]
        assert rc.is_dup_history is True
        assert rc.hist_doc_id == "2", "suppressor must be the re-ingest"
        # ledger holds both retained sightings of the fp
        assert ledger_df(spark, ck).count() == 2
        for x in (a, b, c):
            x.unpersist()

    def test_intra_shard_first_occurrence(self, spark, ck):
        rows = [(1, "aa"), (2, "aa"), (3, "bb"), (4, "aa")]
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
        ann = incremental_dedup(spark, df, ck, now=1)
        got = {r.doc_id: (r.is_dup_history, r.is_dup_intra) for r in ann.collect()}
        assert got == {
            "1": (False, False),
            "2": (False, True),
            "3": (False, False),
            "4": (False, True),
        }
        assert ledger_df(spark, ck).count() == 2
        ann.unpersist()

    def test_null_doc_id_is_not_retained(self, spark, ck):
        # a null id's is_dup_intra is null, so the row is no survivor:
        # it enters neither the ledger nor n_retained
        rows = [(1, "aa"), (None, "bb"), (3, "cc"), (4, "dd")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        incremental_dedup(spark, df, ck, now=1).unpersist()
        (meta,) = dedup_completed_shards(spark, ck)
        assert ledger_df(spark, ck).count() == 3
        assert meta["n_docs"] == 4 and meta["n_retained"] == 3

    def test_query_only_mode_mutates_nothing(self, spark, docs, ck):
        shard_a = docs.where("doc_id % 2 = 0")
        incremental_dedup(spark, shard_a, ck, now=1).unpersist()
        before = ledger_df(spark, ck).count()
        q = incremental_dedup(
            spark, shard_a, ck, now=2, update_state=False
        )
        assert q.where("is_dup_history").count() == shard_a.count()
        assert ledger_df(spark, ck).count() == before
        assert len(dedup_completed_shards(spark, ck)) == 1
        q.unpersist()

    def test_crash_recovery_ignores_incomplete_shard(self, spark, ck):
        """An ingest that died after writing sketch rows but before its
        lineage row must be INVISIBLE (code-review r04: orphan sketch
        rows previously wedged the checkpoint — the sketch claimed fps
        the ledger couldn't verify, and a missing ledger even crashed
        the probe). Retrying the shard must then work normally."""
        import os

        from pyspark.sql import functions as F

        df1 = spark.createDataFrame([(1, "first text")], "doc_id long, text string")
        incremental_dedup(spark, df1, ck, now=1).unpersist()

        # simulate the crash: orphan shard-1 sketch rows (copied from
        # shard 0's real rows), NO ledger rows, NO lineage row
        state = os.path.join(ck, "sketch_state")
        orphan = spark.read.parquet(state).withColumn("shard", F.lit(1))
        orphan.write.mode("append").parquet(state)

        df2 = spark.createDataFrame([(2, "second text")], "doc_id long, text string")
        ann = incremental_dedup(spark, df2, ck, now=2)  # must not crash
        r = ann.collect()[0]
        assert r.is_dup_history is False
        assert len(dedup_completed_shards(spark, ck)) == 2
        # worst case: the orphan duplicated the 'first text' fp in the
        # sketch — a clone of doc 1 must STILL be flagged (via shard 0)
        df3 = spark.createDataFrame([(3, "first text")], "doc_id long, text string")
        ann3 = incremental_dedup(spark, df3, ck, now=3)
        assert ann3.collect()[0].is_dup_history is True
        # AND the retry shard's own fp must not be lost to the shard-id
        # collision with the orphan rows (merge-all, never pick-one: a
        # dropped fp would be a silently missed duplicate forever)
        df4 = spark.createDataFrame([(4, "second text")], "doc_id long, text string")
        ann4 = incremental_dedup(spark, df4, ck, now=4)
        assert ann4.collect()[0].is_dup_history is True
        for x in (ann, ann3, ann4):
            x.unpersist()


class TestStreamingIngestGuard:
    """Streaming front door: each micro-batch is one ingest shard."""

    def test_process_batch_semantics_and_replay(self, spark, ck):
        import os

        from fuggetabouspark.dataops import (
            StreamingIngestGuard,
            ledger_df,
        )

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(spark, ck, clean_dir=clean)
        a = spark.createDataFrame(
            [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
        )
        g.process_batch(a, 0)
        b = spark.createDataFrame(
            [(3, "gamma text"), (4, "alpha text"), (5, "gamma text")],
            "doc_id long, text string",
        )
        g.process_batch(b, 1)
        out = spark.read.parquet(clean)
        kept = {r.doc_id for r in out.collect()}
        # epoch 0 keeps both; epoch 1 drops 4 (history dup of 1) and
        # 5 (intra-batch dup of 3); doc_id keeps its ORIGINAL long type
        assert kept == {1, 2, 3}
        assert ledger_df(spark, ck).count() == 3

        # fully-committed epoch replayed after restart: skipped outright
        g.process_batch(b, 1)
        assert ledger_df(spark, ck).count() == 3
        assert spark.read.parquet(clean).count() == 3

        # same docs as a NEW epoch: self-correcting — everything is a
        # history dup, nothing re-enters state or output
        g.process_batch(b, 2)
        assert ledger_df(spark, ck).count() == 3
        assert spark.read.parquet(clean).where("_epoch = 2").count() == 0

    def test_real_stream_available_now(self, spark, ck, tmp_path):
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard, ledger_df

        inp = str(tmp_path / "in")
        rows = [(i, f"text number {i % 6}") for i in range(12)]  # 6 distinct
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(spark, ck, clean_dir=clean)
        q = g.start(inp, "doc_id long, text string", trigger_seconds=None)
        q.awaitTermination(120)
        assert ledger_df(spark, ck).count() == 6
        out = spark.read.parquet(clean)
        texts = [r.text for r in out.collect()]
        assert sorted(texts) == sorted({t for _, t in rows})


class TestCompaction:
    def test_compact_preserves_answers_and_bounds_state(self, spark, ck):
        import os

        from fuggetabouspark.dataops.incremental import (
            compact_dedup_checkpoint,
            load_dedup_state,
        )

        mk = lambda i, t: spark.createDataFrame([(i, t)], "doc_id long, text string")
        for i, t in [(1, "t one"), (2, "t two"), (3, "t three")]:
            incremental_dedup(spark, mk(i, t), ck, now=i).unpersist()
        before = load_dedup_state(spark, ck)
        sk = compact_dedup_checkpoint(spark, ck)
        assert sk is not None
        # single shard=-1 row now carries the whole membership state
        rows = spark.read.parquet(os.path.join(ck, "sketch_state")).collect()
        assert [r.shard for r in rows] == [-1]
        after = load_dedup_state(spark, ck)
        assert after.to_bytes() == before.to_bytes()
        # post-compaction ingest still dedups against ALL prior shards
        q = incremental_dedup(spark, mk(9, "t two"), ck, now=9)
        assert q.collect()[0].is_dup_history is True
        q.unpersist()
        # idempotent: compacting twice is a no-op on the answer
        compact_dedup_checkpoint(spark, ck)
        assert load_dedup_state(spark, ck) is not None

    def test_guard_auto_compacts(self, spark, ck):
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard

        g = StreamingIngestGuard(spark, ck, compact_every=2)
        for e in range(4):
            g.process_batch(
                spark.createDataFrame([(e, f"text {e}")], "doc_id long, text string"), e
            )
        shards = {r.shard for r in
                  spark.read.parquet(os.path.join(ck, "sketch_state")).collect()}
        assert -1 in shards  # compaction ran
        # all four texts still suppress clones
        q = incremental_dedup(
            spark,
            spark.createDataFrame([(10, "text 0"), (11, "text 3")],
                                  "doc_id long, text string"),
            ck, now=99, update_state=False,
        )
        assert all(r.is_dup_history for r in q.collect())
        q.unpersist()


class TestIncrementalNearDup:
    """Cross-shard NEAR-dup against checkpointed LSH state (round 4):
    band-key sketch probe + band/sig ledgers, never re-joining history
    text."""

    def test_planted_clones_caught_with_certainty(self, spark, docs, ck):
        from fuggetabouspark.dataops import incremental_near_dup

        a = docs.where("doc_id % 2 = 0")
        clones = a.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + 10**9).alias("doc_id"), "text"
        )
        b = docs.where("doc_id % 2 = 1").unionByName(clones)
        ann_a = incremental_near_dup(spark, a, ck, now=1)
        kept_a = {r.doc_id for r in ann_a.where(
            "not is_near_dup_history and not is_near_dup_intra").collect()}
        ann_b = incremental_near_dup(spark, b, ck, now=2)
        rows_b = {r.doc_id: r for r in ann_b.collect()}
        planted = {str(r.doc_id) for r in clones.collect()}
        # every planted clone MUST be flagged: sig(clone) == sig(original),
        # so either the original is retained (est 1.0) or the original
        # was itself near-dup'd away and the clone matches that keeper
        # with the SAME estimate that dropped the original (>= threshold)
        for p in planted:
            r = rows_b[p]
            assert r.is_near_dup_history, p
            orig = str(int(p) - 10**9)
            if orig in kept_a:
                assert abs(r.est_jaccard - 1.0) < 1e-9, (p, r.est_jaccard)
            else:
                assert r.est_jaccard >= 0.8
        for x in (ann_a, ann_b):
            x.unpersist()

    def test_window_decay_and_intra(self, spark, ck):
        from fuggetabouspark.dataops import incremental_near_dup

        txt = " ".join(f"w{i}" for i in range(40))
        from fuggetabouspark.params import TimingParams

        p = TimingParams(capacity=10_000, error=0.001, window_ticks=10)
        mk = lambda i: spark.createDataFrame([(i, txt)], "doc_id long, text string")
        a = incremental_near_dup(spark, mk(1), ck, now=1, params=p)
        assert a.collect()[0].is_near_dup_history is False
        # in-window clone: flagged
        b = incremental_near_dup(spark, mk(2), ck, now=5, params=p)
        assert b.collect()[0].is_near_dup_history is True
        # decayed: ledger rows out of window, sketch window passed — survives
        c = incremental_near_dup(spark, mk(3), ck, now=100, params=p)
        assert c.collect()[0].is_near_dup_history is False
        # intra: two clones of a text UNRELATED to history in ONE
        # shard -> larger id flagged intra (txt-derived text would be
        # a HISTORY near-dup of doc 3 instead — est ~0.95)
        ztxt = " ".join(f"z{i}" for i in range(40))
        d = spark.createDataFrame([(10, ztxt), (11, ztxt)],
                                  "doc_id long, text string")
        ann = incremental_near_dup(spark, d, ck, now=101, params=p)
        got = {r.doc_id: (r.is_near_dup_history, r.is_near_dup_intra)
               for r in ann.collect()}
        assert got["10"][1] is False and got["11"][1] is True
        for x in (a, b, c, ann):
            x.unpersist()


class TestRound5StateBounding:
    """Round 5 (VERDICT r04 #1/#3): near-dup checkpoint compaction,
    ledger expiry, and the guard's near-dup mode under the same
    epoch-exactly-once protocol."""

    P = TimingParams(capacity=10_000, error=0.001, window_ticks=2**31)

    @staticmethod
    def _mk(spark, i, t):
        return spark.createDataFrame([(i, t)], "doc_id long, text string")

    def test_near_compaction_preserves_answers(self, spark, ck):
        import os

        from fuggetabouspark.dataops import (
            compact_near_checkpoint,
            incremental_near_dup,
        )
        from fuggetabouspark.dataops.incremental import NEAR, _family_state

        texts = [" ".join(f"t{j}v{i}" for j in range(40)) for i in range(3)]
        for i, t in enumerate(texts):
            incremental_near_dup(
                spark, self._mk(spark, i, t), ck, now=i + 1, params=self.P
            ).unpersist()
        before = _family_state(ck, NEAR)[1]
        sk = compact_near_checkpoint(spark, ck)
        assert sk is not None
        rows = spark.read.parquet(os.path.join(ck, "near", "sketch_state")).collect()
        assert [r.shard for r in rows] == [-1]
        after = _family_state(ck, NEAR)[1]
        assert after.to_bytes() == before.to_bytes()
        # post-compaction ingest still near-dedups against ALL prior
        # shards: an exact clone of texts[1] matches with certainty
        q = incremental_near_dup(
            spark, self._mk(spark, 9, texts[1]), ck, now=9, params=self.P
        )
        r = q.collect()[0]
        assert r.is_near_dup_history and abs(r.est_jaccard - 1.0) < 1e-9
        q.unpersist()
        # idempotent
        compact_near_checkpoint(spark, ck)
        assert _family_state(ck, NEAR)[1] is not None

    def test_expire_ledgers_bounds_state(self, spark, ck):
        from fuggetabouspark.dataops import (
            expire_ledgers,
            incremental_dedup,
            incremental_near_dup,
            ledger_df,
        )

        p = TimingParams(capacity=10_000, error=0.001, window_ticks=10)
        txt = " ".join(f"e{j}" for j in range(40))
        incremental_dedup(
            spark, self._mk(spark, 1, txt), ck, now=1, params=p
        ).unpersist()
        incremental_near_dup(
            spark, self._mk(spark, 1, txt), ck, now=1, params=p
        ).unpersist()
        # expiry far past the window drops every ledger row but leaves
        # the dirs readable (explicit-schema empty parquet)
        kept = expire_ledgers(spark, ck, now=50)
        assert kept == {"fp_ledger": 0, "band_ledger": 0, "sig_ledger": 0}
        assert ledger_df(spark, ck).count() == 0
        # the decayed clone re-enters (no false dup from pruned state)
        a = incremental_dedup(spark, self._mk(spark, 2, txt), ck, now=50, params=p)
        assert a.collect()[0].is_dup_history is False
        a.unpersist()
        n = incremental_near_dup(spark, self._mk(spark, 2, txt), ck, now=50, params=p)
        assert n.collect()[0].is_near_dup_history is False
        n.unpersist()
        # in-window expiry is a no-op on answers: fresh rows survive
        kept2 = expire_ledgers(spark, ck, now=51)
        assert kept2["fp_ledger"] == 1 and kept2["sig_ledger"] == 1
        assert kept2["band_ledger"] > 0
        b = incremental_dedup(spark, self._mk(spark, 3, txt), ck, now=52, params=p)
        assert b.collect()[0].is_dup_history is True
        b.unpersist()
        m = incremental_near_dup(spark, self._mk(spark, 3, txt), ck, now=52, params=p)
        r = m.collect()[0]
        assert r.is_near_dup_history and abs(r.est_jaccard - 1.0) < 1e-9
        m.unpersist()

    def test_guard_near_mode_clean_and_replay(self, spark, ck):
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, near=True,
            params=self.P, near_params=self.P, compact_every=None,
        )
        base = " ".join(f"w{j}" for j in range(60))
        other = " ".join(f"x{j}" for j in range(60))
        g.process_batch(
            spark.createDataFrame(
                [(1, base), (2, other)], "doc_id long, text string"
            ),
            0,
        )
        # doc 4 is a PERTURBED clone of doc 1 (59/60 shared words,
        # J = 59/61 ≈ 0.967): invisible to exact dedup, caught by the
        # near half — the composition the clean output must reflect
        pert = base.replace("w3 ", "q3 ")
        fresh = " ".join(f"y{j}" for j in range(60))
        b1 = spark.createDataFrame(
            [(3, fresh), (4, pert)], "doc_id long, text string"
        )
        g.process_batch(b1, 1)
        out = spark.read.parquet(clean)
        assert {r.doc_id for r in out.collect()} == {1, 2, 3}
        # fully-committed epoch replayed: skipped outright
        g.process_batch(b1, 1)
        assert spark.read.parquet(clean).count() == 3

    def test_guard_near_crash_replay_excludes_own_epoch(self, spark, ck):
        import os

        from fuggetabouspark.dataops import (
            StreamingIngestGuard,
            incremental_near_dup,
        )
        from fuggetabouspark.dataops.incremental import NEAR

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, near=True,
            params=self.P, near_params=self.P, compact_every=None,
        )
        base = " ".join(f"w{j}" for j in range(60))
        g.process_batch(
            spark.createDataFrame([(1, base)], "doc_id long, text string"), 0
        )
        # simulate attempt 1 of epoch 1 crashing AFTER its near half
        # committed but BEFORE the final (exact-lineage) epoch marker:
        # run the near operator exactly as the guard would, then "crash"
        fresh = " ".join(f"y{j}" for j in range(60))
        b1 = spark.createDataFrame([(3, fresh)], "doc_id long, text string")
        incremental_near_dup(
            spark, b1, ck, now=g.now_for_epoch(1), params=self.P,
            meta_extra={"epoch": 1},
        ).unpersist()
        # the retry must NOT treat attempt 1's shard as history (doc 3
        # would be flagged a near-dup of itself and the epoch's clean
        # output silently lost)
        g.process_batch(b1, 1)
        out = spark.read.parquet(clean).where("_epoch = 1")
        assert {r.doc_id for r in out.collect()} == {3}
        # both attempts' shards are in the near lineage for epoch 1 —
        # duplicate state rows are merge-all-safe and bounded by
        # compaction/expiry
        epochs = [m.get("epoch") for m in NEAR.log(ck).metas()]
        assert epochs.count(1) == 2

    def test_many_shard_state_stays_bounded(self, spark, ck):
        """VERDICT r04 #1 'done' criterion: across many guard ingests
        with periodic compaction + expiry, sketch-state rows and
        ledger rows are bounded by the window, not by shards-ever —
        and the window semantics still hold afterwards."""
        import os

        from fuggetabouspark.dataops import (
            StreamingIngestGuard,
            incremental_dedup,
            incremental_near_dup,
        )

        p = TimingParams(capacity=10_000, error=0.001, window_ticks=3)
        g = StreamingIngestGuard(
            spark, ck, near=True, params=p, near_params=p,
            compact_every=3, expire_every=3,
        )
        uniq = lambda i: " ".join(f"u{i}w{j}" for j in range(40))
        for i in range(9):
            rows = [(2 * i, uniq(i))]
            if i:
                rows.append((2 * i + 1, uniq(i - 1)))  # in-window clone
            g.process_batch(
                spark.createDataFrame(rows, "doc_id long, text string"), i
            )
        # compaction ran at batches 3/6/9: both sketch states are the
        # single shard=-1 row, not 9 per-shard rows
        st = spark.read.parquet(os.path.join(ck, "sketch_state")).collect()
        stn = spark.read.parquet(os.path.join(ck, "near", "sketch_state")).collect()
        assert [r.shard for r in st] == [-1]
        assert [r.shard for r in stn] == [-1]
        # expiry at now=9 with window 3 keeps ticks {7,8,9} only: the
        # ledgers hold ~3 retained docs, not the 9 ever retained
        n_fp = spark.read.parquet(os.path.join(ck, "fp_ledger")).count()
        n_sig = spark.read.parquet(os.path.join(ck, "near", "sig_ledger")).count()
        n_band = spark.read.parquet(os.path.join(ck, "near", "band_ledger")).count()
        assert n_fp <= 4 and n_sig <= 4, (n_fp, n_sig)
        assert n_band <= 4 * 16, n_band
        # window semantics survive compaction+expiry: a clone of the
        # newest unique text is still suppressed, a decayed one is not
        q = incremental_dedup(
            spark,
            spark.createDataFrame(
                [(100, uniq(8)), (101, uniq(2))], "doc_id long, text string"
            ),
            ck, now=10, params=p, update_state=False,
        )
        got = {r.doc_id: r.is_dup_history for r in q.collect()}
        assert got["100"] is True and got["101"] is False
        q.unpersist()
        qn = incremental_near_dup(
            spark,
            spark.createDataFrame(
                [(100, uniq(8)), (101, uniq(2))], "doc_id long, text string"
            ),
            ck, now=10, params=p, update_state=False,
        )
        gotn = {r.doc_id: r.is_near_dup_history for r in qn.collect()}
        assert gotn["100"] is True and gotn["101"] is False
        qn.unpersist()


class TestIncrementalPassages:
    """Passage-level incremental dedup (round 5): window fingerprints
    of a new shard probed against checkpointed history, masked with
    drop-all-on-the-new-side semantics."""

    P = TimingParams(capacity=50_000, error=0.001, window_ticks=2**31)

    @staticmethod
    def _doc(i, own_words, para=None):
        words = [f"d{i}w{j}" for j in range(own_words)]
        if para:
            words += para
        return (i, " ".join(words))

    def test_history_windows_flagged_and_masked(self, spark, ck):
        from fuggetabouspark.dataops import (
            incremental_passages,
            mask_against_history,
        )

        para = [f"pp{j}" for j in range(60)]
        # shard A: two docs carry the paragraph, one is clean
        a = spark.createDataFrame(
            [self._doc(1, 55, para), self._doc(2, 55, para), self._doc(3, 55)],
            "doc_id long, text string",
        )
        ann_a = incremental_passages(spark, a, ck, now=1, window=50, params=self.P)
        got_a = {r.doc_id: r for r in ann_a.collect()}
        # no history yet: nothing flagged, every doc has its windows
        assert all(r.n_hist_windows == 0 for r in got_a.values())
        assert got_a["1"].n_windows == 55 + 60 - 50 + 1
        ann_a.unpersist()
        # shard B: doc 10 repeats the paragraph after its own 40 words,
        # doc 11 is novel
        b = spark.createDataFrame(
            [self._doc(10, 40, para), self._doc(11, 45)],
            "doc_id long, text string",
        )
        ann_b = incremental_passages(
            spark, b, ck, now=2, window=50, params=self.P, update_state=False
        )
        got = {r.doc_id: r for r in ann_b.collect()}
        # exactly the 11 interior paragraph windows are historical
        # (boundary windows contain doc-10-specific words)
        assert got["10"].n_hist_windows == 11
        assert got["10"].hist_positions == list(range(40, 51))
        assert got["11"].n_hist_windows == 0
        # masking drops the paragraph from doc 10 entirely (union of
        # spans [40, 101) = everything from position 40 on)
        clean = mask_against_history(spark, b, ann_b, window=50)
        rows = {r.doc_id: r for r in clean.collect()}
        ann_b.unpersist()
        assert rows[10].n_tokens_removed == 60
        assert not any(w.startswith("pp") for w in rows[10].text_clean.split())
        assert rows[11].n_tokens_removed == 0

    def test_decay_reenter_and_state_maintenance(self, spark, ck):
        import os

        from fuggetabouspark.dataops import (
            compact_passages_checkpoint,
            expire_ledgers,
            incremental_passages,
        )

        p = TimingParams(capacity=50_000, error=0.001, window_ticks=5)
        para = [f"qq{j}" for j in range(55)]
        a = spark.createDataFrame(
            [self._doc(1, 30, para)], "doc_id long, text string"
        )
        incremental_passages(spark, a, ck, now=1, window=50, params=p).unpersist()
        # in-window repeat: flagged
        b = spark.createDataFrame(
            [self._doc(2, 20, para)], "doc_id long, text string"
        )
        r = incremental_passages(
            spark, b, ck, now=4, window=50, params=p, update_state=False
        ).collect()[0]
        assert r.n_hist_windows == 55 - 50 + 1
        # decayed: the passage re-enters as new
        c = spark.createDataFrame(
            [self._doc(3, 20, para)], "doc_id long, text string"
        )
        rc = incremental_passages(
            spark, c, ck, now=50, window=50, params=p
        ).collect()[0]
        assert rc.n_hist_windows == 0
        # maintenance: compaction folds to shard=-1; expiry prunes the
        # decayed shard-0 ledger rows but keeps shard-1 (tick 50) rows
        compact_passages_checkpoint(spark, ck)
        st = spark.read.parquet(os.path.join(ck, "passages", "sketch_state")).collect()
        assert [x.shard for x in st] == [-1]
        kept = expire_ledgers(spark, ck, now=50)
        led = spark.read.parquet(os.path.join(ck, "passages", "fp_ledger"))
        ticks = {x.tick for x in led.collect()}
        assert ticks == {50} and kept["passage_ledger"] == led.count()
        # post-maintenance probe still works: clone of doc 3's text
        d = spark.createDataFrame(
            [self._doc(4, 20, para)], "doc_id long, text string"
        )
        rd = incremental_passages(
            spark, d, ck, now=51, window=50, params=p, update_state=False
        ).collect()[0]
        assert rd.n_hist_windows == 55 - 50 + 1

    def test_heal_crashed_swap_before_append(self, spark, ck):
        """code-review r05 #1: a crash between expire_ledgers' two
        renames leaves only fp_ledger_old; the NEXT ingest must restore
        it before appending — a plain append would recreate the
        primary dir with only the new shard's rows, shadowing (and
        eventually deleting) the whole history."""
        import os
        import shutil

        from fuggetabouspark.dataops import incremental_dedup, ledger_df

        mk = lambda i, t: spark.createDataFrame([(i, t)], "doc_id long, text string")
        txt = " ".join(f"h{j}" for j in range(40))
        incremental_dedup(spark, mk(1, txt), ck, now=1, params=self.P).unpersist()
        # simulate the crashed swap: only the _old copy remains
        led = os.path.join(ck, "fp_ledger")
        shutil.move(led, led + "_old")
        # ingest of NEW text appends — and must heal first
        incremental_dedup(
            spark, mk(2, "completely different words"), ck, now=2, params=self.P
        ).unpersist()
        assert os.path.exists(led) and not os.path.exists(led + "_old")
        assert ledger_df(spark, ck).count() == 2  # history survived
        # the old text still verifies as a duplicate
        q = incremental_dedup(
            spark, mk(3, txt), ck, now=3, params=self.P, update_state=False
        )
        assert q.collect()[0].is_dup_history is True
        q.unpersist()

    def test_passage_boundary_fps_not_retained_when_masked(self, spark, ck):
        """code-review r05 #4: an occurrence whose span overlaps a
        historical (to-be-masked) region must not enter history —
        otherwise a later identical boundary span is masked although
        no clean copy of it survives anywhere."""
        from fuggetabouspark.dataops import incremental_passages

        para = [f"bb{j}" for j in range(60)]
        a = spark.createDataFrame(
            [(1, " ".join([f"own{j}" for j in range(55)] + para))],
            "doc_id long, text string",
        )
        incremental_passages(spark, a, ck, now=1, window=50, params=self.P).unpersist()
        # doc 20: 10 unique words + the historical paragraph. Its
        # interior windows are historical; its boundary windows (own
        # prefix + paragraph) all overlap them → nothing new retained
        t20 = " ".join([f"x{j}" for j in range(10)] + para)
        incremental_passages(
            spark,
            spark.createDataFrame([(20, t20)], "doc_id long, text string"),
            ck, now=2, window=50, params=self.P,
        ).unpersist()
        # doc 21 repeats doc 20's text EXACTLY: only the 11 interior
        # paragraph windows may be historical — if doc 20's boundary
        # fps had leaked into state, this would be 21 flagged windows
        r = incremental_passages(
            spark,
            spark.createDataFrame([(21, t20)], "doc_id long, text string"),
            ck, now=3, window=50, params=self.P, update_state=False,
        ).collect()[0]
        assert r.n_windows == 21 and r.n_hist_windows == 11, r

    def test_guard_passages_mode_masks_clean_output(self, spark, ck):
        """Guard passages=True: the published clean stream carries
        historically-repeated passages masked out, under the same
        epoch replay protocol."""
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, passages=True,
            params=self.P, passage_params=self.P, compact_every=None,
        )
        para = [f"gp{j}" for j in range(60)]
        b0 = spark.createDataFrame(
            [(1, " ".join([f"a{j}" for j in range(30)] + para))],
            "doc_id long, text string",
        )
        g.process_batch(b0, 0)
        # epoch 0: no history yet — text published untouched
        out0 = spark.read.parquet(clean).where("_epoch = 0").collect()[0]
        assert "gp0" in out0.text and out0._passage_tokens_removed == 0
        # epoch 1: doc 2 repeats the paragraph (distinct doc ⇒ not an
        # exact dup, survives) — published with the paragraph masked
        b1 = spark.createDataFrame(
            [(2, " ".join([f"b{j}" for j in range(25)] + para))],
            "doc_id long, text string",
        )
        g.process_batch(b1, 1)
        out1 = spark.read.parquet(clean).where("_epoch = 1").collect()[0]
        words1 = out1.text.split()
        assert not any(w.startswith("gp") for w in words1)
        assert out1._passage_tokens_removed == 60
        assert all(w.startswith("b") for w in words1) and len(words1) == 25
        # committed-epoch replay: skipped, output unchanged
        g.process_batch(b1, 1)
        assert spark.read.parquet(clean).count() == 2

    def test_spark_path_publishes_each_duplicate_id_row_once(
        self, spark, ck, guard_spark_path
    ):
        """A batch holding a doc id twice is refused on the guard's Spark
        path too (the rows of one doc id cannot each be masked and
        published on their own): it raises, and nothing is written."""
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, passages=True,
            params=self.P, passage_params=self.P, compact_every=None,
        )
        with pytest.raises(ValueError, match="repeated or null doc_id"):
            g.process_batch(spark.createDataFrame(
                [(1, "a b c d e"), (1, "a b c d e"), (2, "f g h i"), (3, "j k l m")],
                "doc_id long, text string",
            ), 0)
        assert os.listdir(ck) == [] and not os.path.exists(clean)

    def test_passage_state_covers_published_survivors_only(self, spark, ck):
        """code-review r05 (third pass): a doc dropped by doc-level
        dedup must NOT leave its novel passages in history — they have
        no published keeper, so future copies would be masked out of
        the clean corpus with no surviving copy anywhere."""
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, near=True, passages=True,
            params=self.P, near_params=self.P, passage_params=self.P,
            compact_every=None,
        )
        base = " ".join(f"s{j}" for j in range(600))
        para = " ".join(f"zz{j}" for j in range(60))
        g.process_batch(
            spark.createDataFrame([(1, base)], "doc_id long, text string"), 0
        )
        # doc 2 = base + a NOVEL paragraph: near-dup of doc 1
        # (shingle J ≈ 598/658 ≈ 0.91 ≥ 0.8) → dropped from the clean
        # stream; its paragraph must not enter passage history
        g.process_batch(
            spark.createDataFrame(
                [(2, base + " " + para)], "doc_id long, text string"
            ),
            1,
        )
        assert spark.read.parquet(clean).where("_epoch = 1").count() == 0
        # doc 3 carries the paragraph and survives: it must be
        # published INTACT — the paragraph was never published before
        g.process_batch(
            spark.createDataFrame(
                [(3, " ".join(f"t{j}" for j in range(20)) + " " + para)],
                "doc_id long, text string",
            ),
            2,
        )
        out2 = spark.read.parquet(clean).where("_epoch = 2").collect()[0]
        assert out2._passage_tokens_removed == 0
        assert any(w.startswith("zz") for w in out2.text.split())
        # and doc 3's OWN publication does retain the paragraph: a
        # fourth doc repeating it gets masked against doc 3's copy
        g.process_batch(
            spark.createDataFrame(
                [(4, " ".join(f"u{j}" for j in range(20)) + " " + para)],
                "doc_id long, text string",
            ),
            3,
        )
        out3 = spark.read.parquet(clean).where("_epoch = 3").collect()[0]
        assert out3._passage_tokens_removed == 60
        assert not any(w.startswith("zz") for w in out3.text.split())


    @staticmethod
    def _files(root):
        import os

        return sorted(
            (os.path.join(d, f), os.path.getsize(os.path.join(d, f)))
            for d, _, fs in os.walk(root) for f in fs
        )

    def test_window_is_fixed_per_checkpoint(self, spark, ck):
        """A passage checkpoint built at window 50 refuses a call at
        window 30 before anything is probed or written: 30-word
        fingerprints never match a retained 50-word passage, so every
        repeat would pass unflagged."""
        from fuggetabouspark.dataops import incremental_passages
        from fuggetabouspark.dataops.incremental import PASSAGES

        para = [f"fx{j}" for j in range(60)]
        ddl = "doc_id long, text string"
        a = spark.createDataFrame([self._doc(1, 10, para)], ddl)
        incremental_passages(spark, a, ck, now=1, window=50, params=self.P).unpersist()
        b = spark.createDataFrame([self._doc(2, 10, para)], ddl)
        before = self._files(ck)
        for update_state in (False, True):
            with pytest.raises(ValueError, match="window=50 stride=1"):
                incremental_passages(
                    spark, b, ck, now=2, window=30, params=self.P,
                    update_state=update_state,
                )
        assert self._files(ck) == before
        assert [(m["window"], m["stride"]) for m in PASSAGES.log(ck).metas()] == [(50, 1)]
        # at the checkpoint's own window the repeat is flagged
        r = incremental_passages(
            spark, b, ck, now=2, window=50, params=self.P, update_state=False
        ).collect()[0]
        assert r.n_hist_windows == 60 - 50 + 1

    def test_guard_refuses_a_checkpoint_of_another_window(self, spark, ck):
        """The guard's passages run at window 50; a trigger on a
        checkpoint built at window 30 raises before anything is probed
        or written."""
        import os

        from fuggetabouspark.dataops import StreamingIngestGuard, incremental_passages

        ddl = "doc_id long, text string"
        para = [f"gw{j}" for j in range(60)]
        incremental_passages(
            spark, spark.createDataFrame([self._doc(1, 10, para)], ddl), ck, now=1,
            window=30, params=self.P,
        ).unpersist()
        g = StreamingIngestGuard(
            spark, ck, clean_dir=os.path.join(ck, "clean"), passages=True,
            params=self.P, passage_params=self.P, compact_every=None,
        )
        before = self._files(ck)
        with pytest.raises(ValueError, match="window=30 stride=1"):
            g.process_batch(spark.createDataFrame([self._doc(2, 10, para)], ddl), 0)
        assert self._files(ck) == before


class TestIncrementalEmbeddingDedup:
    """Semantic (embedding-level) incremental dedup: hyperplane bucket
    keys probe checkpointed state, exact-cosine verification against
    the vec ledger."""

    P = TimingParams(capacity=50_000, error=0.001, window_ticks=2**31)
    DIM = 16

    def _vecs(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_exact_and_near_vectors_caught(self, spark, ck):
        import numpy as np

        from fuggetabouspark.dataops import incremental_embedding_dedup

        rng = np.random.default_rng(11)
        base = rng.normal(size=(4, self.DIM)).astype("float32")
        a = self._vecs(
            spark, [(i, [float(x) for x in base[i]]) for i in range(4)]
        )
        ann_a = incremental_embedding_dedup(
            spark, a, ck, now=1, dim=self.DIM, params=self.P
        )
        assert not any(r.is_emb_dup_history for r in ann_a.collect())
        ann_a.unpersist()
        # shard B: vec 10 = EXACT clone of vec 1 (certain, cosine 1),
        # vec 11 = vec 2 + small noise (cos ≈ 0.999 — near-certain and
        # frozen by fixed seeds), vec 12 = fresh random (must survive)
        near = base[2] + 0.01 * rng.normal(size=self.DIM).astype("float32")
        fresh = rng.normal(size=self.DIM).astype("float32")
        b = self._vecs(spark, [
            (10, [float(x) for x in base[1]]),
            (11, [float(x) for x in near]),
            (12, [float(x) for x in fresh]),
        ])
        ann_b = incremental_embedding_dedup(
            spark, b, ck, now=2, dim=self.DIM, threshold=0.9, params=self.P
        )
        got = {r.vec_id: r for r in ann_b.collect()}
        assert got["10"].is_emb_dup_history and abs(got["10"].cosine - 1.0) < 1e-6
        assert got["10"].hist_vec_id == "1"
        assert got["11"].is_emb_dup_history and got["11"].cosine >= 0.9
        assert got["11"].hist_vec_id == "2"
        assert not got["12"].is_emb_dup_history
        ann_b.unpersist()

    def test_window_decay_compaction_and_expiry(self, spark, ck):
        import os

        import numpy as np

        from fuggetabouspark.dataops import (
            compact_emb_checkpoint,
            expire_ledgers,
            incremental_embedding_dedup,
        )

        p = TimingParams(capacity=50_000, error=0.001, window_ticks=5)
        rng = np.random.default_rng(5)
        v = [float(x) for x in rng.normal(size=self.DIM).astype("float32")]
        mk = lambda i: self._vecs(spark, [(i, v)])
        incremental_embedding_dedup(
            spark, mk(1), ck, now=1, dim=self.DIM, params=p
        ).unpersist()
        r = incremental_embedding_dedup(
            spark, mk(2), ck, now=4, dim=self.DIM, params=p, update_state=False
        ).collect()[0]
        assert r.is_emb_dup_history  # in window
        rc = incremental_embedding_dedup(
            spark, mk(3), ck, now=50, dim=self.DIM, params=p
        ).collect()[0]
        assert rc.is_emb_dup_history is False  # decayed → re-enters
        compact_emb_checkpoint(spark, ck)
        st = spark.read.parquet(os.path.join(ck, "emb", "sketch_state")).collect()
        assert [x.shard for x in st] == [-1]
        kept = expire_ledgers(spark, ck, now=50)
        assert kept["vec_ledger"] == 1  # only the tick-50 re-entry
        rd = incremental_embedding_dedup(
            spark, mk(4), ck, now=51, dim=self.DIM, params=p, update_state=False
        ).collect()[0]
        assert rd.is_emb_dup_history and rd.hist_vec_id == "3"

    def test_zero_vectors_and_geometry_guard(self, spark, ck):
        """code-review r05 (fourth pass): an all-zero embedding must
        never match (no direction — and unguarded division would abort
        under ANSI mode or NaN-flag without it); mismatched bucket
        geometry must raise, not silently miss everything."""
        import numpy as np
        import pytest

        from fuggetabouspark.dataops import incremental_embedding_dedup

        rng = np.random.default_rng(3)
        v = [float(x) for x in rng.normal(size=self.DIM).astype("float32")]
        zeros = [0.0] * self.DIM
        a = self._vecs(spark, [(1, v), (2, zeros)])
        incremental_embedding_dedup(
            spark, a, ck, now=1, dim=self.DIM, params=self.P
        ).unpersist()
        # shard B's zero vector shares every bucket with A's zero
        # vector (all projections 0 → bucket 0 in every table): the
        # candidate pair exists, and the guarded cosine must reject it
        b = self._vecs(spark, [(10, zeros), (11, v)])
        got = {
            r.vec_id: r
            for r in incremental_embedding_dedup(
                spark, b, ck, now=2, dim=self.DIM, params=self.P,
                update_state=False,
            ).collect()
        }
        assert got["10"].is_emb_dup_history is False
        assert got["11"].is_emb_dup_history and got["11"].hist_vec_id == "1"
        # different geometry on the same checkpoint: loud failure
        with pytest.raises(ValueError, match="bits"):
            incremental_embedding_dedup(
                spark, b, ck, now=3, dim=self.DIM, bits=8, params=self.P,
                update_state=False,
            )

    def test_guard_embeddings_mode(self, spark, ck):
        """Guard embeddings=True: a doc whose TEXT is novel but whose
        VECTOR exactly re-uploads retained history is dropped from the
        clean stream; committed-epoch replays are skipped."""
        import os

        import numpy as np

        from fuggetabouspark.dataops import StreamingIngestGuard

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, embeddings=True, emb_dim=self.DIM,
            params=self.P, emb_params=self.P, compact_every=None,
        )
        rng = np.random.default_rng(9)
        v1 = [float(x) for x in rng.normal(size=self.DIM).astype("float32")]
        v2 = [float(x) for x in rng.normal(size=self.DIM).astype("float32")]
        ddl = "doc_id long, text string, embedding array<float>"
        g.process_batch(
            spark.createDataFrame([(1, "first text", v1)], ddl), 0
        )
        b1 = spark.createDataFrame(
            [(2, "totally different words", v1), (3, "fresh doc", v2)], ddl
        )
        g.process_batch(b1, 1)
        kept = {r.doc_id for r in spark.read.parquet(clean).collect()}
        assert kept == {1, 3}  # doc 2: semantic re-upload of doc 1
        g.process_batch(b1, 1)  # committed replay: skipped
        assert spark.read.parquet(clean).count() == 2

    def test_guard_emb_state_covers_published_survivors_only(self, spark, ck):
        """code-review r05 (fifth pass): a doc dropped by exact dedup
        must not leave its novel VECTOR in semantic history — it has
        no published keeper, so future docs with that vector would be
        suppressed with no surviving copy."""
        import os

        import numpy as np

        from fuggetabouspark.dataops import StreamingIngestGuard

        clean = os.path.join(ck, "clean")
        g = StreamingIngestGuard(
            spark, ck, clean_dir=clean, embeddings=True, emb_dim=self.DIM,
            params=self.P, emb_params=self.P, compact_every=None,
        )
        rng = np.random.default_rng(21)
        v1 = [float(x) for x in rng.normal(size=self.DIM).astype("float32")]
        v2 = [float(x) for x in rng.normal(size=self.DIM).astype("float32")]
        ddl = "doc_id long, text string, embedding array<float>"
        g.process_batch(spark.createDataFrame([(1, "text one", v1)], ddl), 0)
        # doc 2: exact TEXT dup (dropped) carrying NOVEL vector v2
        g.process_batch(spark.createDataFrame([(2, "text one", v2)], ddl), 1)
        assert spark.read.parquet(clean).where("_epoch = 1").count() == 0
        # doc 3: novel text + v2 — must publish (v2 never published)
        g.process_batch(spark.createDataFrame([(3, "text three", v2)], ddl), 2)
        assert {r.doc_id for r in
                spark.read.parquet(clean).where("_epoch = 2").collect()} == {3}
        # doc 4: v2 again — NOW suppressed by doc 3's published copy
        g.process_batch(spark.createDataFrame([(4, "text four", v2)], ddl), 3)
        assert spark.read.parquet(clean).where("_epoch = 3").count() == 0


# ---- the StreamingIngestGuard tests above, on the guard's Spark path ----

TestStreamingIngestGuardSparkPath = on_guard_spark_path(
    TestStreamingIngestGuard,
    "test_process_batch_semantics_and_replay", "test_real_stream_available_now",
)
TestCompactionSparkPath = on_guard_spark_path(TestCompaction, "test_guard_auto_compacts")
TestRound5StateBoundingSparkPath = on_guard_spark_path(
    TestRound5StateBounding,
    "test_guard_near_mode_clean_and_replay",
    "test_guard_near_crash_replay_excludes_own_epoch",
    "test_many_shard_state_stays_bounded",
)
TestIncrementalPassagesSparkPath = on_guard_spark_path(
    TestIncrementalPassages,
    "test_guard_passages_mode_masks_clean_output",
    "test_passage_state_covers_published_survivors_only",
    "test_guard_refuses_a_checkpoint_of_another_window",
)
TestIncrementalEmbeddingDedupSparkPath = on_guard_spark_path(
    TestIncrementalEmbeddingDedup,
    "test_guard_embeddings_mode", "test_guard_emb_state_covers_published_survivors_only",
)
