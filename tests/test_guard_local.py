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
- which batches fall back to the Spark path: duplicate or null doc ids,
  other column types, a non-string text, a hot band bucket;
- driver-side expiry: 0 Spark jobs, the same report and rows as the
  Spark rewrite, and a fully expired ledger still reads schema-less.
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

        def files():
            return sorted(
                (os.path.join(d, f), os.path.getsize(os.path.join(d, f)))
                for root in (g.checkpoint_dir, g.clean_dir)
                for d, _, fs in os.walk(root) for f in fs
            )

        before = files()
        with pytest.raises(Exception, match="(?i)parquet"):
            g.process_batch(b1, 1)
        assert files() == before
