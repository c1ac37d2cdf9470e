"""Resumable builds (state.py) and the streaming sketch builder commit
and read their checkpoints through the driver-side checkpoint store.

Pinned here:
- resuming a complete checkpoint, load_state, compact_checkpoint and
  StreamingSketchBuilder.load_state start no Spark job, and a build
  starts only build_sketches' own collect per shard;
- a crash between a commit's temp write and its rename leaves a file
  that neither the loaders nor Spark's reader see, and the resumed
  build matches an uninterrupted one;
- a build resumed after a compaction crashed mid-swap appends to the
  surviving _old history instead of hiding it;
- a compaction after a crash between a shard's state rows and its
  lineage row folds only completed shards, so the resumed build does
  not count the orphaned shard twice;
- a checkpoint whose shards were written by Spark still resumes,
  loads and compacts, with driver-written parts in the same dirs;
- an unreadable lineage part raises instead of rebuilding every shard;
- a replayed streaming epoch replaces its own version: an additive
  CMS keeps its n_items.
"""

import json
import os

import pytest
from conftest import crash_after_shards, jobs_in_group
from pyspark.sql import functions as F

from fuggetabouspark.fixtures import make_rows
from fuggetabouspark.params import CMSParams, TimingParams
from fuggetabouspark.pipeline import LINEAGE_SPEC, SketchSpec, build_sketches
from fuggetabouspark.state import (
    build_resumable,
    compact_checkpoint,
    completed_shards,
    load_state,
)
from fuggetabouspark.streaming import StreamingSketchBuilder

SPECS = [
    SketchSpec("tbf", "tbf", TimingParams(20_000, 0.005, window_ticks=200), "tokens"),
    SketchSpec("cms", "cms", CMSParams(eps=0.002, delta=0.02), "tokens"),
]


def _kw():
    """build_sketches options of every build here (a Column needs the
    session, so built per call)."""
    tick = (F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long") % 50) + 1
    return dict(tick_col=tick, partitions=4)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(make_rows(0, 400))


def _bytes(sketches):
    return {k: (sk.to_bytes(), sk.n_items) for k, sk in sketches.items()}


def _shard(n_shards, shard):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int") == shard


@pytest.fixture(scope="module")
def fresh(spark, corpus, tmp_path_factory):
    """An uninterrupted 3-shard build — the reference bytes."""
    ck = str(tmp_path_factory.mktemp("fresh"))
    return _bytes(build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw()))


def test_build_collects_once_per_shard_and_the_rest_starts_no_job(spark, corpus, fresh, tmp_path):
    ck = str(tmp_path / "ck")
    assert jobs_in_group(spark, "ck-missing", lambda: completed_shards(spark, ck)) == (set(), 0)
    per_shard = sum(
        jobs_in_group(
            spark, f"ck-ref-{s}",
            lambda s=s: build_sketches(corpus.where(_shard(2, s)), SPECS, **_kw()).collect(),
        )[1]
        for s in range(2)
    )
    built, jobs = jobs_in_group(
        spark, "ck-build", lambda: build_resumable(spark, corpus, SPECS, ck, n_shards=2, **_kw())
    )
    assert jobs == per_shard
    resumed, jobs = jobs_in_group(
        spark, "ck-resume", lambda: build_resumable(spark, corpus, SPECS, ck, n_shards=2, **_kw())
    )
    assert jobs == 0
    assert _bytes(resumed) == _bytes(built)
    assert jobs_in_group(spark, "ck-load", lambda: load_state(spark, ck))[1] == 0
    compacted, jobs = jobs_in_group(spark, "ck-compact", lambda: compact_checkpoint(spark, ck, now=60))
    assert jobs == 0
    assert set(compacted) == set(built)
    # shard membership changes with n_shards, so only the merged
    # answer — not any one shard — must match the 3-shard build
    assert _bytes(built) == fresh


@pytest.mark.parametrize("artifact", ["sketch_state", "lineage"])
def test_torn_temp_files_are_invisible(spark, corpus, fresh, tmp_path, monkeypatch, artifact):
    ck = str(tmp_path / "ck")
    real, commits = os.replace, []

    def crash_on_shard_1(src, dst):
        if os.path.dirname(src).endswith(artifact):
            commits.append(src)
            if len(commits) == 2:
                raise OSError("crash before rename")
        real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_shard_1)
        with pytest.raises(OSError, match="crash before rename"):
            build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())
    (temp,) = [f for f in os.listdir(os.path.join(ck, artifact)) if f.startswith("_part-")]
    # ... and a part cut off mid-write in both directories
    for d in ("sketch_state", "lineage"):
        with open(os.path.join(ck, d, "_part-torn.parquet"), "wb") as f:
            f.write(b"PAR1\x15\x04")

    assert temp and completed_shards(spark, ck) == {0}
    assert spark.read.parquet(os.path.join(ck, "lineage")).count() == 1
    resumed = build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())
    assert _bytes(resumed) == fresh
    assert completed_shards(spark, ck) == {0, 1, 2}
    assert spark.read.parquet(os.path.join(ck, "lineage")).count() == 3


def test_resume_after_a_crashed_compaction_swap(spark, corpus, tmp_path):
    """A compaction that crashed between its two renames leaves only
    sketch_state_old; the resumed build must append to that history,
    not start a new primary dir that hides it."""
    ck, ref = str(tmp_path / "ck"), str(tmp_path / "ref")
    with pytest.raises(RuntimeError, match="injected failure"), crash_after_shards(2):
        build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())
    compacted = _bytes(compact_checkpoint(spark, ck, now=60))
    state = os.path.join(ck, "sketch_state")
    os.rename(state, state + "_old")
    assert _bytes(load_state(spark, ck)) == compacted
    resumed = build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())

    with pytest.raises(RuntimeError, match="injected failure"), crash_after_shards(2):
        build_resumable(spark, corpus, SPECS, ref, n_shards=3, **_kw())
    compact_checkpoint(spark, ref, now=60)
    assert _bytes(resumed) == _bytes(build_resumable(spark, corpus, SPECS, ref, n_shards=3, **_kw()))
    assert sorted(os.listdir(ck)) == ["lineage", "sketch_state"]


def test_compaction_after_an_orphaned_shard_does_not_double_count(
    spark, corpus, tmp_path, monkeypatch
):
    """A build that crashed after shard 1's state rows were committed
    but before its lineage row leaves orphan rows. A compaction must not
    fold them in: the resume rebuilds shard 1, and every additive sketch
    would count it twice."""
    ck, ref = str(tmp_path / "ck"), str(tmp_path / "ref")
    real, lineage_commits = os.replace, []

    def crash_on_lineage_1(src, dst):
        if os.path.dirname(src).endswith("lineage"):
            lineage_commits.append(src)
            if len(lineage_commits) == 2:
                raise OSError("crash before the lineage commit")
        real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_lineage_1)
        with pytest.raises(OSError, match="crash before the lineage commit"):
            build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())
    assert completed_shards(spark, ck) == {0}
    compact_checkpoint(spark, ck, now=60)
    resumed = build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())

    build_resumable(spark, corpus, SPECS, ref, n_shards=3, **_kw())
    want = compact_checkpoint(spark, ref, now=60)
    assert _bytes(resumed) == _bytes(want)


def _spark_write_shard(spark, corpus, ck, shard, n_shards):
    """One shard committed the way Spark writes it: sketch rows by a
    Spark append, then a one-row lineage DataFrame."""
    final = build_sketches(corpus.where(_shard(n_shards, shard)), SPECS, **_kw())
    final.where(F.col("spec") != LINEAGE_SPEC).withColumn("shard", F.lit(shard)).write.mode(
        "append"
    ).parquet(os.path.join(ck, "sketch_state"))
    meta = json.dumps({"shard": shard, "n_shards": n_shards}, sort_keys=True)
    spark.createDataFrame([(shard, meta)], "shard int, meta string").write.mode(
        "append"
    ).parquet(os.path.join(ck, "lineage"))


def test_spark_written_checkpoint_resumes_to_identical_bytes(spark, corpus, fresh, tmp_path):
    ck = str(tmp_path / "ck")
    for shard in (0, 1):
        _spark_write_shard(spark, corpus, ck, shard, 3)
    assert completed_shards(spark, ck, expect_n_shards=3) == {0, 1}
    resumed = build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())
    assert _bytes(resumed) == fresh
    loaded, jobs = jobs_in_group(spark, "ck-mixed-load", lambda: load_state(spark, ck))
    assert jobs == 0
    assert _bytes(loaded) == fresh
    # the mixed lineage dir stays readable by Spark
    assert sorted(r.shard for r in spark.read.parquet(os.path.join(ck, "lineage")).collect()) == [0, 1, 2]
    # and the mixed state dir compacts to the compaction of a fresh build
    ref = str(tmp_path / "ref")
    build_resumable(spark, corpus, SPECS, ref, n_shards=3, **_kw())
    assert _bytes(compact_checkpoint(spark, ck, now=60)) == _bytes(compact_checkpoint(spark, ref, now=60))


def test_corrupt_lineage_part_raises(spark, corpus, tmp_path):
    ck = str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="injected failure"), crash_after_shards(1):
        build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())
    with open(os.path.join(ck, "lineage", "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        completed_shards(spark, ck)
    with pytest.raises(Exception, match="(?i)parquet"):
        build_resumable(spark, corpus, SPECS, ck, n_shards=3, **_kw())


def test_replayed_streaming_epoch_keeps_cms_n_items(spark, corpus, tmp_path, monkeypatch):
    b = StreamingSketchBuilder(spark, SPECS, str(tmp_path / "stream"), **_kw())
    batches = [corpus.where(_shard(2, s)) for s in range(2)]
    for epoch, batch in enumerate(batches):
        b.process_batch(batch, epoch)
    state, jobs = jobs_in_group(spark, "stream-load", b.load_state)
    assert jobs == 0
    committed = _bytes(state)
    cms = [k for k in committed if k[0] == "cms"]
    assert cms and sum(committed[k][1] for k in cms) > 0

    # a replay of epoch 1 that crashes before its version is published
    def crash(src, dst):
        raise OSError("crash before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash before rename"):
            b.process_batch(batches[1], 1)
    assert _bytes(b.load_state()) == committed
    # the replay that completes replaces the version instead of adding to it
    b.process_batch(batches[1], 1)
    assert _bytes(b.load_state()) == committed
    versions = tmp_path / "stream" / "versions"
    assert sorted(os.listdir(versions)) == ["epoch=0", "epoch=1"]
    assert len(os.listdir(versions / "epoch=1")) == 1
