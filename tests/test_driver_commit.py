"""The incremental families' driver-side commit path: every small
checkpoint artifact (a shard's membership-sketch delta row, its lineage
row, compaction's shard=-1 row) is written by pyarrow from the driver
under a '_' temp name and published with an atomic os.replace.

Pinned here:
- crash safety: a temp file left by a crash between write and rename
  is invisible to lineage reads, state loads and Spark's reader;
- compatibility: a checkpoint whose rows were written by Spark (the
  earlier commit path) still loads, probes and takes new shards, and
  the mixed directories read the same through pyarrow and Spark;
- the mechanism: lineage rows, state rows and all four compactions run
  zero Spark jobs, and the driver-merged delta is byte-identical to
  build_sketches' payload whatever the input partitioning — and to the
  in-process delta the guard's driver path commits;
- the loader merges only ungrouped (group '') state rows.
"""

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from conftest import jobs_in_group
from pyspark.sql import functions as F

from fuggetabouspark.dataops import (
    commit_emb_state,
    compact_dedup_checkpoint,
    compact_emb_checkpoint,
    compact_near_checkpoint,
    compact_passages_checkpoint,
    dedup_completed_shards,
    incremental_dedup,
    incremental_near_dup,
    incremental_passages,
    load_dedup_state,
)
from fuggetabouspark.dataops.incremental import DEDUP_SPEC, _sketch_delta, _sketch_keys
from fuggetabouspark.params import TimingParams
from fuggetabouspark.sketches.tbf import TimingBloomFilter
from fuggetabouspark.state import ShardLog, _commit_row

P = TimingParams(capacity=20_000, error=0.001, window_ticks=2**31)
STATE_DDL = "spec string, group string, payload binary, n_items long, shard int"


@pytest.fixture()
def ck():
    d = tempfile.mkdtemp(prefix="fgs_commit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(spark, path):
    """(pyarrow rows, Spark rows) of a parquet dir, both sorted."""
    via_pa = sorted(tuple(r.values()) for r in ds.dataset(path).to_table().to_pylist())
    via_spark = sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in spark.read.parquet(path).collect()
    )
    return via_pa, via_spark


class TestCrashSafety:
    def test_leftover_temp_files_are_invisible(self, spark, ck):
        incremental_dedup(spark, _docs(spark, [(1, "first text")]), ck, now=1).unpersist()
        state, lineage = os.path.join(ck, "sketch_state"), os.path.join(ck, "lineage")
        before = load_dedup_state(spark, ck).to_bytes()

        # a crash between write and rename: complete rows under '_'
        # names (a lineage row for a shard that never committed and a
        # state row that would change the merged sketch) ...
        other = TimingBloomFilter.zero(P)
        other.add_batch(np.arange(100, dtype=np.int64), 1)
        scratch = os.path.join(ck, "scratch")
        _commit_row(os.path.join(scratch, "lineage"), shard=1,
                    meta=json.dumps({"now": 2, "shard": 1}))
        _commit_row(os.path.join(scratch, "state"), spec=DEDUP_SPEC, group="",
                    payload=other.to_bytes(), n_items=int(other.n_items), shard=0)
        for src, dst in (("lineage", lineage), ("state", state)):
            (done,) = os.listdir(os.path.join(scratch, src))
            shutil.move(os.path.join(scratch, src, done), os.path.join(dst, "_part-crash.parquet"))
        # ... and a torn one, cut off mid-write
        for d in (state, lineage):
            with open(os.path.join(d, "_part-torn.parquet"), "wb") as f:
                f.write(b"PAR1\x15\x04")

        assert [m["shard"] for m in dedup_completed_shards(spark, ck)] == [0]
        assert load_dedup_state(spark, ck).to_bytes() == before
        assert ShardLog(ck, additive=False).load([0])[DEDUP_SPEC, ""].to_bytes() == before
        assert spark.read.parquet(state).count() == 1
        assert spark.read.parquet(lineage).count() == 1
        # and the checkpoint keeps working: the next shard commits
        ann = incremental_dedup(spark, _docs(spark, [(2, "first text")]), ck, now=2)
        assert ann.collect()[0].is_dup_history is True
        ann.unpersist()


class TestSparkWrittenCompatibility:
    def test_spark_written_shard_then_driver_written_shard(self, spark, ck):
        incremental_dedup(spark, _docs(spark, [(1, "alpha text"), (2, "beta text")]),
                          ck, now=1).unpersist()
        state, lineage = os.path.join(ck, "sketch_state"), os.path.join(ck, "lineage")
        want = load_dedup_state(spark, ck).to_bytes()
        # rewrite shard 0's state and lineage rows the way the Spark
        # commit path wrote them (one-row createDataFrame appends)
        state_rows = ds.dataset(state).to_table().to_pylist()
        lin_rows = ds.dataset(lineage).to_table().to_pylist()
        shutil.rmtree(state)
        shutil.rmtree(lineage)
        spark.createDataFrame(
            [(r["spec"], r["group"], bytearray(r["payload"]), r["n_items"], r["shard"])
             for r in state_rows], STATE_DDL,
        ).write.mode("append").parquet(state)
        spark.createDataFrame(
            [(r["shard"], r["meta"]) for r in lin_rows], "shard int, meta string"
        ).write.mode("append").parquet(lineage)
        assert os.path.exists(os.path.join(state, "_SUCCESS"))

        # loads and probes
        assert load_dedup_state(spark, ck).to_bytes() == want
        q = incremental_dedup(spark, _docs(spark, [(9, "beta text")]), ck, now=2,
                              update_state=False)
        assert q.collect()[0].is_dup_history is True
        q.unpersist()

        # shard 1 through the driver writer, next to the Spark parts
        incremental_dedup(spark, _docs(spark, [(3, "gamma text"), (4, "alpha text")]),
                          ck, now=2).unpersist()
        assert [m["shard"] for m in dedup_completed_shards(spark, ck)] == [0, 1]
        for d in (state, lineage):
            names = [n for n in os.listdir(d) if n.startswith("part-")]
            assert any(n.endswith(".snappy.parquet") for n in names)  # Spark's
            assert any(not n.endswith(".snappy.parquet") for n in names)  # driver's
            via_pa, via_spark = _rows(spark, d)
            assert via_pa == via_spark and len(via_pa) == 2
        q = incremental_dedup(
            spark, _docs(spark, [(10, "alpha text"), (11, "gamma text"), (12, "new")]),
            ck, now=3, update_state=False,
        )
        got = {r.doc_id: r.is_dup_history for r in q.collect()}
        assert got == {"10": True, "11": True, "12": False}
        q.unpersist()


class TestDriverCommitMechanism:
    def test_commits_and_compactions_run_no_spark_job(self, spark, ck):
        txt = " ".join(f"w{j}" for j in range(30))
        docs = _docs(spark, [(1, txt), (2, "short words here")])
        incremental_dedup(spark, docs, ck, now=1, params=P).unpersist()
        incremental_near_dup(spark, docs, ck, now=1, params=P).unpersist()
        incremental_passages(spark, docs, ck, now=1, window=10, params=P).unpersist()
        vecs = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.5, 0.25]), (2, [0.0, 1.0, 0.0, 0.5])],
            "vec_id long, embedding array<float>",
        )
        commit_emb_state(spark, vecs, ck, now=1, dim=4, params=P)

        sk = TimingBloomFilter.zero(P)
        sk.add_batch(np.arange(10, dtype=np.int64), 1)
        scratch = os.path.join(ck, "scratch")
        compactions = (compact_dedup_checkpoint, compact_near_checkpoint,
                       compact_passages_checkpoint, compact_emb_checkpoint)
        merged = []

        def commit():
            ShardLog(scratch, additive=False).commit(0, [{
                "spec": DEDUP_SPEC, "group": "", "payload": sk.to_bytes(), "n_items": int(sk.n_items),
            }], {})
            merged.extend(c(spark, ck) for c in compactions)

        assert jobs_in_group(spark, "fgs-driver-commit", commit)[1] == 0
        assert all(m is not None for m in merged)
        for sub in ("", "near", "passages", "emb"):
            shards = ds.dataset(os.path.join(ck, sub, "sketch_state")).to_table()
            assert shards.column("shard").to_pylist() == [-1]
        # the group does see jobs when there are some
        assert jobs_in_group(spark, "fgs-control", lambda: spark.range(3).count())[1]

    @pytest.mark.parametrize("nparts", [1, 3, 8])
    def test_driver_delta_matches_build_sketches(self, spark, ck, nparts):
        from fuggetabouspark.pipeline import SketchSpec, build_sketches

        rng = np.random.default_rng(nparts)
        keys = rng.integers(-(2**62), 2**62, size=3000)
        keys[::7] = keys[0]  # repeated keys: the per-key max tick must win
        ticks = rng.integers(1, 50, size=keys.size)
        df = spark.createDataFrame(
            [(f"d{i}", int(k), int(t)) for i, (k, t) in enumerate(zip(keys, ticks))],
            "doc_id string, key long, tick long",
        ).repartition(nparts)
        log = ShardLog(os.path.join(ck, f"log{nparts}"), additive=False)
        log.commit(0, _sketch_delta(df, F.col("key"), F.col("tick"), DEDUP_SPEC, P, None), {})
        got = pq.read_table(log.state).to_pylist()
        spec = SketchSpec(DEDUP_SPEC, "tbf", P, value="tokens")
        shaped = df.select("doc_id", F.array("key").alias("tokens"),
                           F.lit(1).alias("n_tok"), "tick")
        want = build_sketches(shaped, [spec], group_cols=(), tick_col=F.col("tick")) \
            .where(F.col("spec") == DEDUP_SPEC).collect()
        assert len(got) == len(want) == 1
        assert got[0]["payload"] == bytes(want[0]["payload"])
        assert got[0]["n_items"] == want[0]["n_items"] == keys.size
        assert (got[0]["spec"], got[0]["group"], got[0]["shard"]) == (DEDUP_SPEC, "", 0)
        # partitions caps the partials collected; the bytes do not move
        capped = _sketch_delta(df, F.col("key"), F.col("tick"), DEDUP_SPEC, P, 2)
        assert [r["payload"] for r in capped] == [got[0]["payload"]]

    def test_in_process_delta_matches_spark_delta(self, spark, ck):
        keys = np.random.default_rng(9).integers(-(2**62), 2**62, size=2000)
        keys[::5] = keys[1]
        df = spark.createDataFrame([(int(k),) for k in keys], "key long").repartition(3)
        via_spark = _sketch_delta(df, F.col("key"), F.lit(7), DEDUP_SPEC, P, None)
        in_process = _sketch_keys(pa.array(keys), 7, DEDUP_SPEC, P)
        assert in_process == via_spark and len(in_process) == 1
        assert _sketch_keys(pa.array([], pa.int64()), 7, DEDUP_SPEC, P) == []

    def test_empty_delta_commits_no_row(self, spark, ck):
        empty = spark.createDataFrame([], "key long, tick long")
        log = ShardLog(ck, additive=False)
        log.commit(0, _sketch_delta(empty, F.col("key"), F.col("tick"), DEDUP_SPEC, P, None), {})
        assert not os.path.exists(log.state)


class TestLoaderGroupFilter:
    def test_grouped_row_is_not_merged(self, spark, ck):
        from fuggetabouspark.dataops.incremental import EXACT, _family_state

        mine = TimingBloomFilter.zero(P)
        mine.add_batch(np.arange(0, 50, dtype=np.int64), 1)
        grouped = TimingBloomFilter.zero(P)
        grouped.add_batch(np.arange(1000, 1050, dtype=np.int64), 1)
        ShardLog(ck, additive=False).commit(0, [
            {"spec": DEDUP_SPEC, "group": "", "payload": mine.to_bytes(), "n_items": int(mine.n_items)},
            {"spec": DEDUP_SPEC, "group": "web", "payload": grouped.to_bytes(),
             "n_items": int(grouped.n_items)},
        ], {})
        _, sk, raw = _family_state(ck, EXACT)
        assert sk.to_bytes() == mine.to_bytes()
        assert raw == mine.to_bytes()  # exactly one row contributed
