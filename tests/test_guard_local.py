"""The guard's driver path: a StreamingIngestGuard trigger whose batch
fits incremental._LOCAL_TRIGGER_ROWS runs every family in Arrow on the
driver after one bounded Spark read, and expire_ledgers rewrites a
ledger that fits on the driver.

Pinned here:
- hashing.spark_xxhash64 equals Spark's xxhash64 (hashInt / hashLong
  chains and array<long> hashes, extremes included), and the driver's
  band keys equal banded_signatures' rows;
- a checkpoint whose triggers alternate driver, Spark, driver, followed
  by compaction and expiry, equals an all-Spark run artifact for
  artifact — null text, empty text and array<double> embeddings
  included — so Spark readers accept the pyarrow-written ledgers and
  clean partitions;
- job counts: a steady four-family trigger runs at most 3 Spark jobs,
  guard_spark_path really forces the Spark path, and a batch over the
  budget gives identical artifacts;
- which batches the driver read declines: duplicate or null doc ids
  (the guard then refuses them, on either path), other column types, a
  non-string text, a hot band bucket;
- driver-side expiry: 0 Spark jobs, the same report and rows as the
  Spark rewrite, and a fully expired ledger still reads schema-less;
- the replay rule, on both paths: a crash right after the near, emb or
  passage lineage row, then a replay, leaves what an uninterrupted run
  does, and an abandoned epoch's shards suppress nothing, before or
  after a compaction.
"""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from conftest import jobs_in_group
from pyspark.sql import functions as F

from fuggetabouspark.dataops import (
    StreamingIngestGuard,
    compact_dedup_checkpoint,
    compact_emb_checkpoint,
    compact_near_checkpoint,
    compact_passages_checkpoint,
    expire_ledgers,
    ledger_df,
)
from fuggetabouspark.dataops import incremental as I
from fuggetabouspark.dataops.dedup import (
    _band_buckets,
    _minhash_sigs,
    banded_signatures,
    minhash_signatures,
)
from fuggetabouspark.hashing import spark_xxhash64
from fuggetabouspark.params import TimingParams

P = TimingParams(capacity=10_000, error=0.001, window_ticks=2)
DIM = 8
DDL = "doc_id long, text string, embedding array<double>"
I64, I32 = np.iinfo(np.int64), np.iinfo(np.int32)


@pytest.fixture(autouse=True)
def passage_window(monkeypatch):
    """The guard's passages at 8-word windows, so the short planted
    paragraph of _batches is a repeated passage."""
    monkeypatch.setattr(I, "_PASSAGE_WINDOW", 8)


def _batches(spark, n=24):
    """Three batches planting, from the second on, an exact clone, a
    near clone and a re-uploaded vector of the previous batch, and in
    every batch an intra-batch clone, a shared paragraph, a null text
    and an empty text."""
    rng = np.random.default_rng(3)
    para = " ".join(f"para{j}" for j in range(10))
    out, prev = [], None
    for e in range(3):
        text = [" ".join(f"v{w}" for w in rng.integers(0, 5000, 20)) for _ in range(n)]
        emb = rng.standard_normal((n, DIM))
        if prev is not None:
            text[0], emb[0] = prev[0][2], prev[1][2]
            text[1] = prev[0][3].rsplit(" ", 1)[0] + " changed"
            emb[2] = prev[1][4]
        text[3] = text[4]
        text[5] += " " + para
        text[6] += " " + para
        text[7], text[8] = None, ""
        rows = [(e * 100 + i, t, v) for i, (t, v) in enumerate(zip(text, emb.tolist()))]
        out.append(spark.createDataFrame(rows, DDL))
        prev = (text, emb)
    return out


def _guard(spark, root):
    return StreamingIngestGuard(
        spark, str(root / "ck"), clean_dir=str(root / "clean"), params=P,
        near=True, near_params=P, passages=True, passage_params=P,
        embeddings=True, emb_dim=DIM, emb_params=P, compact_every=None,
    )


def _rowset(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _artifacts(spark, g):
    """Every artifact of the guard's checkpoint and clean output, read
    the way Spark and the library read them."""
    ck, out = g.checkpoint_dir, {}
    for fam in I._FAMILIES:
        sk = I._family_state(ck, fam)[1]
        out[fam.spec] = None if sk is None else (sk.to_bytes(), sk.n_items)
        out[f"{fam.spec} lineage"] = sorted(
            json.dumps(m, sort_keys=True) for m in fam.log(ck).metas()
        )
        for name, (_, ddl) in fam.ledgers.items():
            df = I._read_swap(spark, fam.path(ck, name), ddl)
            out[name] = None if df is None else _rowset(df)
    out["ledger_df"] = _rowset(ledger_df(spark, ck))
    clean = spark.read.parquet(g.clean_dir)
    out["clean schema"] = clean.schema
    out["clean"] = _rowset(clean)
    return out


def _files(g):
    """(path, size) of every file under the guard's checkpoint and clean
    output."""
    return sorted(
        (os.path.join(d, f), os.path.getsize(os.path.join(d, f)))
        for root in (g.checkpoint_dir, g.clean_dir)
        for d, _, fs in os.walk(root) for f in fs
    )


def _maintain(spark, g, now):
    for compact in (compact_dedup_checkpoint, compact_near_checkpoint,
                    compact_passages_checkpoint, compact_emb_checkpoint):
        compact(spark, g.checkpoint_dir)
    return expire_ledgers(spark, g.checkpoint_dir, now=now)


class TestSparkXXHash64:
    def test_chains_match_spark(self, spark):
        rng = np.random.default_rng(11)
        longs = np.concatenate([
            [0, 1, -1, I64.min, I64.max, I32.min, I32.max],
            rng.integers(I64.min, I64.max, 200, endpoint=True),
        ]).astype(np.int64)
        ints = np.concatenate([
            [0, 1, -1, I32.min, I32.max, 7, -7],
            rng.integers(I32.min, I32.max, 200, endpoint=True),
        ]).astype(np.int32)
        got = spark.createDataFrame(pd.DataFrame({"i": ints, "l": longs})).select(
            F.xxhash64("l").alias("l"), F.xxhash64("i").alias("i"),
            F.xxhash64("i", "l").alias("il"), F.xxhash64("l", "i", "l").alias("lil"),
            F.xxhash64(F.array("l", "l", "l")).alias("arr"),
        ).toArrow()
        want = {
            "l": spark_xxhash64(longs), "i": spark_xxhash64(ints),
            "il": spark_xxhash64(ints, longs), "lil": spark_xxhash64(longs, ints, longs),
            "arr": spark_xxhash64(longs, longs, longs),
        }
        for name, w in want.items():
            np.testing.assert_array_equal(got.column(name).to_numpy(), w, err_msg=name)

    def test_driver_band_keys_equal_banded_signatures(self, spark):
        rng = np.random.default_rng(5)
        rows = [(i, " ".join(f"w{x}" for x in rng.integers(0, 50, rng.integers(0, 30))))
                for i in range(60)] + [(60, None), (61, "")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        src = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text",
                          F.lit("").alias("source"))
        sig = minhash_signatures(src, num_hashes=64).select("doc_id", "sig")
        want = sorted(tuple(r) for r in banded_signatures(sig, 16, 4).select(
            "doc_id", "band", "bucket", F.xxhash64("band", "bucket")).collect())

        tbl = src.select("doc_id", F.transform(
            F.split("text", " "), lambda w: F.xxhash64(w)).alias("wh")).toArrow()
        sigs = _minhash_sigs(tbl.column("wh").combine_chunks(), 64, 3)
        assert sorted(map(tuple, sigs.tolist())) == sorted(
            tuple(r.sig) for r in sig.collect())
        buckets = _band_buckets(sigs, 16, 4)
        bkeys = spark_xxhash64(np.tile(np.arange(16, dtype=np.int32), len(sigs)),
                               buckets.ravel()).reshape(-1, 16)
        ids = tbl.column("doc_id").to_pylist()
        got = sorted((ids[d], b, int(buckets[d, b]), int(bkeys[d, b]))
                     for d in range(len(ids)) for b in range(16))
        assert got == want


class TestMixedPaths:
    def test_driver_spark_driver_equals_all_spark(self, spark, tmp_path, monkeypatch):
        batches = _batches(spark)
        budget = I._LOCAL_TRIGGER_ROWS
        runs = {}
        for mode in ("mixed", "spark"):
            g = _guard(spark, tmp_path / mode)
            steps = []
            for e, b in enumerate(batches):
                on_driver = mode == "mixed" and e != 1
                monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", budget if on_driver else 0)
                _, jobs = jobs_in_group(spark, f"fgs-{mode}-{e}", lambda: g.process_batch(b, e))
                assert (jobs <= 3) == on_driver, (mode, e, jobs)
                steps.append(_artifacts(spark, g))
            monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", budget if mode == "mixed" else 0)
            report = _maintain(spark, g, g.now_for_epoch(2))
            runs[mode] = (steps, report, _artifacts(spark, g))
        mixed, spark_only = runs["mixed"], runs["spark"]
        for e in range(3):
            for key, want in spark_only[0][e].items():
                assert mixed[0][e][key] == want, (e, key)
        assert mixed[1] == spark_only[1]
        assert mixed[2] == spark_only[2]
        # the clean output keeps the batch's types: doc_id stays long
        schema = mixed[2]["clean schema"]
        assert schema["doc_id"].dataType.simpleString() == "bigint"
        assert schema["embedding"].dataType.simpleString() == "array<double>"
        # the fixture's plants were caught: exact and near clones, the
        # re-uploaded vector and the repeated paragraph
        mixed_ck = str(tmp_path / "mixed" / "ck")
        meta = {m["epoch"]: m for m in I.EXACT.log(mixed_ck).metas()}
        assert meta[1]["n_dup_history"] >= 2 and meta[0]["n_dup_intra"] == 1
        near = {m["epoch"]: m for m in I.NEAR.log(mixed_ck).metas()}
        assert near[1]["n_near_dup_history"] >= 3
        passages = {m["epoch"]: m for m in I.PASSAGES.log(mixed_ck).metas()}
        assert passages[1]["n_hist_windows"] > 0


class TestJobCount:
    def test_steady_trigger_runs_at_most_three_jobs(self, spark, tmp_path):
        b0, b1, _ = _batches(spark)
        g = _guard(spark, tmp_path)
        _, first = jobs_in_group(spark, "fgs-guard-first", lambda: g.process_batch(b0, 0))
        _, steady = jobs_in_group(spark, "fgs-guard-steady", lambda: g.process_batch(b1, 1))
        assert first <= 3 and steady <= 3, (first, steady)

    def test_spark_path_fixture_forces_spark_jobs(self, spark, tmp_path, guard_spark_path):
        b0, b1, _ = _batches(spark)
        g = _guard(spark, tmp_path)
        g.process_batch(b0, 0)
        _, steady = jobs_in_group(spark, "fgs-guard-spark", lambda: g.process_batch(b1, 1))
        assert steady > 3

    def test_batch_over_budget_gives_identical_artifacts(self, spark, tmp_path, monkeypatch):
        b0, b1, _ = _batches(spark)
        want = _guard(spark, tmp_path / "fits")
        want.process_batch(b0, 0)
        want.process_batch(b1, 1)
        g = _guard(spark, tmp_path / "over")
        g.process_batch(b0, 0)
        monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", b1.count() - 1)
        _, jobs = jobs_in_group(spark, "fgs-guard-over", lambda: g.process_batch(b1, 1))
        assert jobs > 3
        assert _artifacts(spark, g) == _artifacts(spark, want)

    def test_hot_band_bucket_takes_spark_path(self, spark, tmp_path, monkeypatch):
        # batch 0 plants an intra-batch clone: its band buckets pair up
        b0, _, _ = _batches(spark)
        want = _guard(spark, tmp_path / "fits")
        want.process_batch(b0, 0)
        monkeypatch.setattr(I, "_LOCAL_NEAR_PAIRS", 0)
        g = _guard(spark, tmp_path / "hot")
        _, jobs = jobs_in_group(spark, "fgs-guard-hot", lambda: g.process_batch(b0, 0))
        assert jobs > 3
        assert _artifacts(spark, g) == _artifacts(spark, want)


class TestReadGate:
    @pytest.mark.parametrize("rows, ddl", [
        ([(1, "a b"), (1, "c d")], "doc_id long, text string"),
        ([(1, "a b"), (None, "c d")], "doc_id long, text string"),
        ([(1, "a b", "2024-01-01 00:00:00")], "doc_id long, text string, ts string"),
        ([(1, 5)], "doc_id long, text long"),
    ], ids=["duplicate-ids", "null-id", "timestamp-column", "non-string-text"])
    def test_batch_takes_spark_path(self, spark, rows, ddl):
        df = spark.createDataFrame(rows, ddl)
        if "ts" in df.columns:
            df = df.withColumn("ts", F.to_timestamp("ts"))
        assert I._read_local(df, "text", True, True) is None

    def test_batch_over_budget_takes_spark_path(self, spark, monkeypatch):
        df = spark.createDataFrame([(i, "x") for i in range(5)], "doc_id long, text string")
        monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", 4)
        assert I._read_local(df, "text", False, False) is None
        monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", 5)
        assert I._read_local(df, "text", False, False).num_rows == 5


class TestDriverExpiry:
    def test_driver_rewrite_matches_spark_rewrite(self, spark, tmp_path, monkeypatch):
        b0, b1, _ = _batches(spark)
        g = _guard(spark, tmp_path / "a")
        g.process_batch(b0, 0)
        g.process_batch(b1, 1)
        ck = g.checkpoint_dir
        other = str(tmp_path / "b" / "ck")
        shutil.copytree(ck, other)

        def ledgers(path):
            return {name: _rowset(I._read_swap(spark, fam.path(path, name), ddl))
                    for fam in I._FAMILIES for name, (_, ddl) in fam.ledgers.items()}

        # now=3 drops the tick-1 rows of every ledger and keeps tick 2's
        report, jobs = jobs_in_group(spark, "fgs-expire-driver",
                                     lambda: expire_ledgers(spark, ck, now=3))
        assert jobs == 0
        monkeypatch.setattr(I, "_LOCAL_TRIGGER_ROWS", 0)
        want, spark_jobs = jobs_in_group(spark, "fgs-expire-spark",
                                         lambda: expire_ledgers(spark, other, now=3))
        assert spark_jobs > 0
        assert report == want and all(v > 0 for v in report.values())
        assert ledgers(ck) == ledgers(other)

        # a fully expired ledger is an empty typed file: schema-less
        # reads keep working
        monkeypatch.undo()
        assert set(expire_ledgers(spark, ck, now=50).values()) == {0}
        for fam in I._FAMILIES:
            for name in fam.ledgers:
                assert spark.read.parquet(fam.path(ck, name)).count() == 0

    def test_driver_rewrite_is_byte_reproducible(self, spark, tmp_path):
        """The kept rows are written in one order whatever the order the
        ledger's part files list in (their names are random)."""
        b0, b1, _ = _batches(spark)
        g = _guard(spark, tmp_path / "g")
        g.process_batch(b0, 0)
        g.process_batch(b1, 1)
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        shutil.copytree(g.checkpoint_dir, a)
        shutil.copytree(g.checkpoint_dir, b)
        for fam in I._FAMILIES:
            for name in fam.ledgers:
                d = fam.path(b, name)
                parts = sorted(f for f in os.listdir(d) if f.startswith("part-"))
                assert len(parts) == 2
                for i, f in enumerate(parts):
                    os.rename(os.path.join(d, f), os.path.join(d, f"part-{len(parts) - i}-{f}"))
        # now=2 keeps every row of both triggers
        assert expire_ledgers(spark, a, now=2) == expire_ledgers(spark, b, now=2)

        def ledger_bytes(ck, fam, name):
            (part,) = [f for f in os.listdir(fam.path(ck, name)) if f.startswith("part-")]
            with open(os.path.join(fam.path(ck, name), part), "rb") as f:
                return f.read()

        for fam in I._FAMILIES:
            for name in fam.ledgers:
                assert ledger_bytes(a, fam, name) == ledger_bytes(b, fam, name), name


class TestUnreadableLineage:
    @pytest.mark.parametrize("subdir", ["", "near", "emb"])
    def test_trigger_raises_and_writes_nothing(self, spark, tmp_path, guard_path, subdir):
        """An unreadable part in a family's lineage fails the next
        trigger before any write, on either path, rather than treating
        that family's shards as never committed."""
        b0, b1, _ = _batches(spark)
        g = _guard(spark, tmp_path)
        g.process_batch(b0, 0)
        with open(os.path.join(g.checkpoint_dir, subdir, "lineage", "part-corrupt.parquet"),
                  "wb") as f:
            f.write(b"not a parquet file")

        before = _files(g)
        with pytest.raises(Exception, match="(?i)parquet"):
            g.process_batch(b1, 1)
        assert _files(g) == before


def _clean(spark, g, epoch):
    return _rowset(spark.read.parquet(g.clean_dir).where(f"_epoch = {epoch}"))


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """The guard of _guard after _batches ran uninterrupted, on the
    driver path (both paths leave the same artifacts)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(I, "_PASSAGE_WINDOW", 8)
        g = _guard(spark, tmp_path_factory.mktemp("uninterrupted"))
        for e, b in enumerate(_batches(spark)):
            g.process_batch(b, e)
    return g


class TestReplayRule:
    """A near, passage or emb shard tagged with a guard epoch is history
    only once the exact lineage records that epoch (the epoch's
    marker)."""

    @pytest.mark.parametrize("family", ["near", "emb", "passages"])
    def test_crash_after_a_family_commit_then_replay(
        self, spark, tmp_path, monkeypatch, guard_path, family, uninterrupted
    ):
        """Epoch 1 crashes right after ``family``'s lineage row lands, is
        replayed, and epoch 2 runs: the clean output and every family's
        epoch-2 counts equal an uninterrupted run's."""
        from fuggetabouspark.state import ShardLog

        batches, want = _batches(spark), uninterrupted
        g = _guard(spark, tmp_path)
        g.process_batch(batches[0], 0)
        commit = ShardLog.commit

        def crash(log, shard, state_rows, meta, before_lineage=None):
            commit(log, shard, state_rows, meta, before_lineage)
            if meta.get("epoch") == 1 and os.path.basename(log.root) == family:
                raise RuntimeError("injected crash")

        monkeypatch.setattr(ShardLog, "commit", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            g.process_batch(batches[1], 1)
        monkeypatch.setattr(ShardLog, "commit", commit)
        g.process_batch(batches[1], 1)
        g.process_batch(batches[2], 2)

        for e in (1, 2):
            assert _clean(spark, g, e) == _clean(spark, want, e), e

        def epoch2(guard, fam):
            (meta,) = [m for m in fam.log(guard.checkpoint_dir).metas() if m["epoch"] == 2]
            return {k: v for k, v in meta.items() if k != "shard"}

        for fam in I._FAMILIES:
            assert epoch2(g, fam) == epoch2(want, fam), fam.spec

    @pytest.mark.parametrize("family", ["near", "emb", "passages"])
    def test_abandoned_epoch_suppresses_nothing(self, spark, tmp_path, guard_path, family):
        """Epoch 1's ``family`` shard committed, and epoch 1 was never
        retried: epoch 2's copy of its text and vector is published
        whole, and a compaction changes no probe's flags."""
        from fuggetabouspark.dataops import (
            commit_emb_state,
            incremental_embedding_dedup,
            incremental_near_dup,
            incremental_passages,
        )

        def batch(*ids):
            text = [" ".join(f"t{i}w{j}" for j in range(20)) for i in ids]
            vecs = [np.random.default_rng(i).standard_normal(DIM).tolist() for i in ids]
            return spark.createDataFrame(list(zip(ids, text, vecs)), DDL)

        def doc(new_id, like):
            return batch(like).withColumn("doc_id", F.lit(new_id).cast("long"))

        g = _guard(spark, tmp_path)
        ck, window = g.checkpoint_dir, I._PASSAGE_WINDOW
        g.process_batch(batch(1), 0)
        # epoch 1's shard of ``family`` lands (docs 10 and 11); its
        # exact marker never does
        abandoned = batch(10, 11)
        if family == "near":
            incremental_near_dup(spark, abandoned, ck, now=2, params=P, meta_extra={"epoch": 1})
        elif family == "passages":
            incremental_passages(spark, abandoned, ck, now=2, window=window, params=P,
                                 meta_extra={"epoch": 1})
        else:
            commit_emb_state(spark, abandoned, ck, now=2, dim=DIM, params=P, id_col="doc_id",
                             meta_extra={"epoch": 1})

        # epoch 2 carries doc 10's text and vector as doc 20
        g.process_batch(doc(20, 10), 2)
        (row,) = spark.read.parquet(g.clean_dir).where("_epoch = 2").collect()
        (want,) = doc(20, 10).collect()
        assert (row.doc_id, row.text, row.embedding) == tuple(want)
        assert row._passage_tokens_removed == 0

        # docs 30 and 31 repeat docs 20 (history) and 11 (abandoned)
        probe = doc(30, 10).unionByName(doc(31, 11))

        def flags():
            """{doc id: its flags}"""
            if family == "near":
                ann = incremental_near_dup(spark, probe, ck, now=3, update_state=False)
                cols = ["doc_id", "is_near_dup_history", "hist_doc_id"]
            elif family == "passages":
                ann = incremental_passages(spark, probe, ck, now=3, window=window,
                                           update_state=False)
                cols = ["doc_id", "hist_positions"]
            else:
                ann = incremental_embedding_dedup(spark, probe, ck, now=3, dim=DIM,
                                                  id_col="doc_id", update_state=False)
                cols = ["vec_id", "is_emb_dup_history", "hist_vec_id"]
            return {r[0]: tuple(r[1:]) for r in ann.select(*cols).collect()}

        before = flags()
        unflagged = ([],) if family == "passages" else (False, None)
        assert before["31"] == unflagged != before["30"], before
        compact = {"near": compact_near_checkpoint, "passages": compact_passages_checkpoint,
                   "emb": compact_emb_checkpoint}[family]
        compact(spark, ck)
        assert flags() == before


class TestDocIdRefusal:
    def test_repeated_or_null_doc_id_is_refused(self, spark, tmp_path, guard_path):
        """A batch whose doc ids repeat or hold a null raises before
        anything is probed or written, on either path."""
        g = StreamingIngestGuard(
            spark, str(tmp_path / "ck"), clean_dir=str(tmp_path / "clean"),
            params=TimingParams(10_000, 0.001, window_ticks=8), compact_every=None,
        )
        ddl = "doc_id long, text string"
        g.process_batch(spark.createDataFrame([(1, "a b c d e")], ddl), 0)
        before = _files(g)
        for rows in ([(7, "a b c d e"), (7, "x y z w v"), (8, "a b c d e")],
                     [(7, "x y z w v"), (None, "a b c d e")]):
            with pytest.raises(ValueError, match="repeated or null doc_id"):
                g.process_batch(spark.createDataFrame(rows, ddl), 1)
            assert _files(g) == before
