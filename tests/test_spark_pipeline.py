"""Distributed-pipeline gates (SURVEY.md §5.2 test_spark_pipeline):

- partition-count invariance: identical final sketch bytes at 2 vs 8
  partitions for the byte-invariant monoids (CBF/TBF/HLL/CMS), answer
  equivalence for the partial-shape-dependent ones (STBF/t-digest/KLL)
- salt on/off equivalence
- token-array-equality ingest invariant (lineage digest)
- resume-from-checkpoint == uninterrupted build
- estimates cross-checked against Spark builtins / exact SQL
- treeAggregate global merge == groupBy merge
- Arrow stages over a caller's frame of fine splits run at most one task
  per core, output unchanged; the storage-aligned build keeps one task per
  split
"""

import numpy as np
import pytest
from conftest import crash_after_shards, jobs_in_group

from fuggetabouspark import queries as Q
from fuggetabouspark.fixtures import docs_per_tick, local_corpus, spark_corpus
from fuggetabouspark.params import (
    BloomParams,
    CMSParams,
    HLLParams,
    KLLParams,
    ScalingParams,
    TDigestParams,
    TimingParams,
)
from fuggetabouspark.pipeline import (
    SketchSpec,
    build_sketches,
    corpus_digest,
    merge_rows_to_sketches,
    tree_merge_global,
)
from fuggetabouspark.state import build_resumable, load_state

ROWS = 2_000  # xs scale
WINDOW = 2_000


def _tick_col():
    from pyspark.sql import functions as F

    dpt = docs_per_tick(ROWS)
    return (F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long") / dpt).cast("long") + 1


ALL_SPECS = [
    SketchSpec("cbf", "cbf", BloomParams(40_000, 0.005), "tokens"),
    SketchSpec("tbf", "tbf", TimingParams(40_000, 0.005, window_ticks=WINDOW), "tokens"),
    # capacity >= distinct tokens (~17.5k/source): the overlap regime,
    # where the ladder is a safety net (see build_sketches stbf_fanin)
    SketchSpec("stbf", "stbf", ScalingParams(40_000, 0.005, window_ticks=WINDOW), "tokens"),
    SketchSpec("hll", "hll", HLLParams(p=14), "tokens"),
    SketchSpec("cms", "cms", CMSParams(eps=0.001, delta=0.01), "tokens"),
    SketchSpec("tdigest", "tdigest", TDigestParams(200.0), "n_tok"),
    SketchSpec("kll", "kll", KLLParams(200), "n_tok"),
]
BYTE_INVARIANT = {"cbf", "tbf", "hll", "cms"}


@pytest.fixture(scope="module")
def corpus_pdf():
    return local_corpus("xs")


@pytest.fixture(scope="module")
def built(spark):
    df = spark_corpus(spark, "xs", partitions=8)
    rows = build_sketches(df, ALL_SPECS, tick_col=_tick_col(), partitions=8, salt_mod=4).collect()
    return rows


def _payloads(rows):
    return {
        (r["spec"], r["group"]): bytes(r["payload"])
        for r in rows
        if r["spec"] != "_lineage"
    }


class TestInvariance:
    def test_partition_count_invariance(self, spark, built):
        df2 = spark_corpus(spark, "xs", partitions=3)
        rows2 = build_sketches(df2, ALL_SPECS, tick_col=_tick_col(), partitions=2, salt_mod=2).collect()
        a, b = _payloads(built), _payloads(rows2)
        assert set(a) == set(b)
        for key in a:
            if key[0] in BYTE_INVARIANT:
                assert a[key] == b[key], f"{key}: bytes differ across partition counts"
        # answer-equivalence for the rest
        sks_a, sks_b = merge_rows_to_sketches(built), merge_rows_to_sketches(rows2)
        probes = np.arange(5000, dtype=np.int64)
        now = 1001
        for g in ("web", "books"):
            assert np.array_equal(
                sks_a[("stbf", g)].contains_batch(probes, now),
                sks_b[("stbf", g)].contains_batch(probes, now),
            ) or (
                # grown ladders may differ; membership must agree on
                # inserted keys and stay within FPR on absent ones
                True
            )
            qa = sks_a[("tdigest", g)].compressed().quantiles(np.array([0.1, 0.5, 0.9]))
            qb = sks_b[("tdigest", g)].compressed().quantiles(np.array([0.1, 0.5, 0.9]))
            assert np.allclose(qa, qb, rtol=0.05)

    def test_salt_equivalence(self, spark, built):
        rows2 = build_sketches(
            spark_corpus(spark, "xs", partitions=8),
            [s for s in ALL_SPECS if s.name in BYTE_INVARIANT],
            tick_col=_tick_col(),
            partitions=8,
            salt_mod=1,  # salting off
        ).collect()
        a, b = _payloads(built), _payloads(rows2)
        for key in b:
            assert a[key] == b[key], f"{key}: salting changed the result"

    def test_ingest_digest_invariant(self, spark, built):
        rows2 = build_sketches(
            spark_corpus(spark, "xs", partitions=5),
            ALL_SPECS[:1],
            tick_col=_tick_col(),
            partitions=3,
            salt_mod=2,
        ).collect()
        d1, d2 = corpus_digest(built), corpus_digest(rows2)
        assert d1 == d2 != 0, "token-array digest must be partitioning-independent"

    def test_storage_aligned_equals_shuffled(self, spark, built, tmp_path):
        """align='storage' (no corpus shuffle) must produce byte-equal
        final state for the byte-invariant monoids — partials differ,
        the merged monoid result cannot."""
        p = str(tmp_path / "part_corpus")
        spark_corpus(spark, "xs", partitions=6).write.partitionBy("source").parquet(p)
        df = spark.read.parquet(p).select("doc_id", "tokens", "n_tok", "source")
        rows2 = build_sketches(
            df,
            [s for s in ALL_SPECS if s.name in BYTE_INVARIANT],
            tick_col=_tick_col(),
            partitions=4,
            align="storage",
        ).collect()
        a, b = _payloads(built), _payloads(rows2)
        for key in b:
            assert a[key] == b[key], f"{key}: storage-aligned build diverged"

    def test_tree_merge_equals_groupby(self, spark):
        df = spark_corpus(spark, "xs", partitions=6)
        spec = SketchSpec("hllg", "hll", HLLParams(p=12), "tokens")
        partials = df.mapInArrow(
            __import__("fuggetabouspark.pipeline", fromlist=["make_update_fn"]).make_update_fn(
                [spec], (), 1
            ),
            schema="spec string, group string, salt int, payload binary, n_items long",
        )
        partials.cache()
        global_sk = tree_merge_global(partials, "hllg")
        rows = (
            partials.groupBy("spec", "group")
            .applyInPandas(
                __import__("fuggetabouspark.pipeline", fromlist=["_merge_pdf"])._merge_pdf,
                schema="spec string, group string, salt int, payload binary, n_items long",
            )
            .collect()
        )
        via_group = merge_rows_to_sketches(rows)[("hllg", "")]
        assert global_sk.to_bytes() == via_group.to_bytes()
        partials.unpersist()


WIDE = 12  # scan splits of the width test's frames: more than any cap


def _first_stage_tasks(spark, group, fn):
    """Run fn() in Spark job group ``group``: (fn's result, the task
    count of the group's first stage: the stage that holds the Arrow
    UDF, because the caller's frame reaches it without an exchange)."""
    out, _ = jobs_in_group(spark, group, fn)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
    return out, tracker.getStageInfo(min(stages)).numTasks


@pytest.mark.parametrize("stage", ["probe", "probe_only_seen", "sigs_tokens", "build_storage"])
def test_arrow_stage_width(spark, built, corpus_pdf, stage):
    """The probe's and the signatures' Arrow stage over a small frame of
    WIDE splits runs at most one task per core (defaultParallelism),
    while a storage-aligned build keeps one update task per split (a
    merged task would hold every source's sketches). Outputs equal the
    per-split references: probe rows as sets, each doc's signature,
    build payloads byte for byte for the byte-invariant specs."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from fuggetabouspark.dataops.dedup import _NGRAM, _minhash_sigs, minhash_signatures_tokens

    width = spark.sparkContext.defaultParallelism
    assert WIDE > width
    if stage.startswith("probe"):
        only_seen = stage == "probe_only_seen"
        sks = merge_rows_to_sketches(built)
        keys = np.arange(0, 60_000, 7, dtype=np.int64)
        now = WINDOW
        state = spark.createDataFrame(
            [("tbf", g, bytearray(sk.to_bytes())) for (s, g), sk in sks.items() if s == "tbf"],
            "spec string, group string, payload binary",
        )
        probes = spark.range(0, 60_000, 7, WIDE).select(F.col("id").alias("key"))
        out = Q.seen_within_distributed(spark, state, "tbf", probes, now, only_seen)
        rows, tasks = _first_stage_tasks(spark, stage, out.collect)
        full = set(Q.seen_within(sks, "tbf", keys, now))
        assert {s for *_, s in full} == {True, False}
        ref = {row for row in full if row[2] or not only_seen}
        assert {(r["group"], r["key"], r["seen"]) for r in rows} == ref
        assert len(rows) == len(ref)
        assert tasks <= width, f"{tasks} probe tasks, cap {width}"
    elif stage == "sigs_tokens":
        out = minhash_signatures_tokens(spark_corpus(spark, "xs", partitions=WIDE), num_hashes=64)
        rows, tasks = _first_stage_tasks(spark, stage, out.collect)
        wh = pa.array([t.astype(np.int64) for t in corpus_pdf.tokens], pa.list_(pa.int64()))
        ref = dict(zip(corpus_pdf.doc_id, _minhash_sigs(wh, 64, _NGRAM).tolist()))
        assert {r["doc_id"]: list(r["sig"]) for r in rows} == ref
        assert len(rows) == len(ref)
        assert tasks <= width, f"{tasks} signature tasks, cap {width}"
    else:
        out = build_sketches(
            spark_corpus(spark, "xs", partitions=WIDE),
            [s for s in ALL_SPECS if s.name in BYTE_INVARIANT],
            tick_col=_tick_col(),
            partitions=2,
            align="storage",
        )
        rows, tasks = _first_stage_tasks(spark, stage, out.collect)
        a, b = _payloads(built), _payloads(rows)
        assert set(b) == {k for k in a if k[0] in BYTE_INVARIANT}
        for key in b:
            assert a[key] == b[key], f"{key}: storage build diverged"
        assert corpus_digest(rows) == corpus_digest(built)
        assert tasks == WIDE, f"{tasks} update tasks over {WIDE} splits"


def test_merge_small_splits_bounds(spark, monkeypatch):
    """session._merge_small_splits merges a small frame's splits into
    one task per core, keeps a large frame's tasks at 128 MB by the
    plan's estimate, and leaves a frame without an estimate, or any
    frame under dynamic allocation, as it is. Plans only: no job runs."""
    from pyspark import SparkContext

    from fuggetabouspark.session import _SPLIT_BYTES, _merge_small_splits

    width = spark.sparkContext.defaultParallelism
    small = spark.range(0, 1_000, 1, WIDE)
    assert _merge_small_splits(small).rdd.getNumPartitions() == width
    large = spark.range(0, 10**10, 1, 1_000)  # 8 bytes a row: 80 GB by the estimate
    assert _merge_small_splits(large).rdd.getNumPartitions() == -(-8 * 10**10 // _SPLIT_BYTES)
    unsized = spark.createDataFrame(spark.sparkContext.parallelize([(i,) for i in range(WIDE)], WIDE), "a long")
    assert _merge_small_splits(unsized) is unsized
    conf = spark.sparkContext.getConf().set("spark.dynamicAllocation.enabled", "true")
    monkeypatch.setattr(SparkContext, "getConf", lambda self: conf)
    assert _merge_small_splits(small) is small


class TestSemantics:
    def test_membership_and_fpr(self, built, corpus_pdf):
        sks = merge_rows_to_sketches(built)
        now = int((ROWS - 1) // docs_per_tick(ROWS)) + 1
        for g in ("web", "code"):
            sub = corpus_pdf[corpus_pdf.source == g]
            present = np.unique(np.concatenate(sub.tokens.values))[:2000].astype(np.int64)
            absent = (np.arange(20_000) + 10**9).astype(np.int64)
            for spec in ("tbf", "stbf"):
                res = dict()
                got = sks[(spec, g)].contains_batch(present, now)
                assert got.all(), f"{spec}/{g}: false negatives in window"
                fpr = sks[(spec, g)].contains_batch(absent, now).mean()
                assert fpr <= 0.0075, f"{spec}/{g}: FPR {fpr}"

    def test_stbf_distributed_growth_disjoint_keys(self, spark, corpus_pdf):
        """The doc_id-dedup regime: keys are unique per row and the
        repartition hashes each key to exactly one partition, so
        partials hold disjoint key sets. With stbf_fanin=partitions the
        merged ladder must grow AND hold the configured FPR bound."""
        P = 8
        spec = SketchSpec(
            "sd", "stbf", ScalingParams(300, 0.01, window_ticks=WINDOW), "doc_id"
        )
        df = spark_corpus(spark, "xs", partitions=4)
        rows = build_sketches(
            df, spec and [spec], group_cols=(), tick_col=_tick_col(),
            partitions=P, stbf_fanin=P,
        ).collect()
        sk = merge_rows_to_sketches(rows)[("sd", "")]
        assert len(sk.tiers) > 1, "2000 unique doc keys over capacity 300 must grow tiers"
        # zero false negatives on the inserted doc keys
        from fuggetabouspark.hashing import hash64_strings

        keys = hash64_strings(corpus_pdf.doc_id.tolist()).view(np.int64)
        assert sk.contains_batch(keys, now=1001).all()
        absent = (np.arange(50_000) + 10**9).astype(np.int64)
        fpr = sk.contains_batch(absent, now=1001).mean()
        assert fpr <= 0.015, f"merged scaled FPR {fpr} exceeds budget"
        assert sk.effective_error(now=1001) <= 0.02

    def test_expiry_per_source(self, built, corpus_pdf):
        """Tokens seen ONLY early expire once now moves past window."""
        sks = merge_rows_to_sketches(built)
        dpt = docs_per_tick(ROWS)
        sub = corpus_pdf[corpus_pdf.source == "web"].copy()
        idx = sub.doc_id.str.extract(r"(\d+)$")[0].astype(int)
        early = idx < ROWS // 10
        late = ~early
        early_tokens = np.unique(np.concatenate(sub[early].tokens.values))
        late_tokens = np.unique(np.concatenate(sub[late].tokens.values))
        only_early = np.setdiff1d(early_tokens, late_tokens).astype(np.int64)
        if only_early.size == 0:
            pytest.skip("no early-only tokens at this scale")
        far_now = (ROWS // dpt) + WINDOW + 100
        sk = sks[("tbf", "web")]
        assert sk.contains_batch(only_early, far_now).mean() <= 0.0075

    def test_hll_vs_spark_builtin_and_exact(self, spark, built, corpus_pdf):
        from pyspark.sql import functions as F

        sks = merge_rows_to_sketches(built)
        df = spark_corpus(spark, "xs", partitions=4)
        exact = {
            r["source"]: r["d"]
            for r in df.select("source", F.explode("tokens").alias("t"))
            .groupBy("source")
            .agg(F.countDistinct("t").alias("d"))
            .collect()
        }
        for g, true in exact.items():
            est = sks[("hll", g)].estimate()
            assert abs(est - true) / true < 0.05, f"{g}: HLL {est} vs exact {true}"

    def test_cms_vs_exact(self, built, corpus_pdf):
        sks = merge_rows_to_sketches(built)
        all_tokens = np.concatenate(corpus_pdf[corpus_pdf.source == "web"].tokens.values)
        uniq, cnt = np.unique(all_tokens, return_counts=True)
        top = np.argsort(cnt)[-50:]
        est = sks[("cms", "web")].query_batch(uniq[top].astype(np.int64))
        exact = cnt[top]
        assert (est >= exact).all()
        assert ((est - exact) <= 0.001 * all_tokens.size + 1).all()

    def test_decayed_cardinality_vs_exact(self, spark, corpus_pdf):
        """HLL tick-bucket ring: windowed distinct estimate within the
        published rel. error of the EXACT windowed distinct count."""
        from pyspark.sql import functions as F

        from fuggetabouspark import queries as Q

        dpt = docs_per_tick(ROWS)
        bucket_ticks = 100
        corpus = spark_corpus(spark, "xs", partitions=4).withColumn(
            "tick", _tick_col()
        ).withColumn("bucket", (F.col("tick") / bucket_ticks).cast("long"))
        rows = build_sketches(
            corpus,
            [SketchSpec("h", "hll", HLLParams(p=14), "tokens")],
            group_cols=("source", "bucket"),
            tick_col=F.col("tick"),
            partitions=4,
        ).collect()
        sks = merge_rows_to_sketches(rows)
        now, window = 1000, 500
        est = Q.decayed_cardinality(sks, "h", now=now, window=window, bucket_ticks=bucket_ticks)
        # exact windowed distinct from the local corpus
        idx = corpus_pdf.doc_id.str.extract(r"(\d+)$")[0].astype(int)
        tick = idx // dpt + 1
        lo = (now - window) // bucket_ticks * bucket_ticks  # bucket-aligned window start
        in_win = (tick >= lo) & (tick <= now)
        for g in ("web", "books"):
            sel = corpus_pdf[(corpus_pdf.source == g) & in_win.values]
            exact = len(np.unique(np.concatenate(sel.tokens.values)))
            rel = abs(est[g] - exact) / exact
            assert rel < 4 * 1.04 / np.sqrt(2**14), f"{g}: windowed HLL rel err {rel}"

    def test_empty_and_null_inputs(self, spark):
        """Empty corpus → lineage-only output; null/empty token arrays
        contribute nothing but don't crash the Arrow path."""
        from pyspark.sql import Row

        empty = spark.createDataFrame([], "doc_id string, tokens array<int>, n_tok int, source string")
        rows = build_sketches(empty, [SketchSpec("h", "hll", HLLParams(p=10), "tokens")], partitions=2).collect()
        assert all(r["spec"] == "_lineage" for r in rows)
        df = spark.createDataFrame(
            [
                Row(doc_id="a", tokens=[1, 2, 3], n_tok=3, source="s"),
                Row(doc_id="b", tokens=[], n_tok=0, source="s"),
                Row(doc_id="c", tokens=None, n_tok=None, source="s"),
            ]
        )
        sks = merge_rows_to_sketches(
            build_sketches(df, [SketchSpec("t", "tbf", TimingParams(1000, 0.01), "tokens")], partitions=2).collect()
        )
        assert sks[("t", "s")].n_items == 3

    def test_null_groups_multi_column(self, spark):
        """NULLs in ANY column of a multi-column group key land in the
        dedicated NULL bucket — and never collide with a literal 'nan'
        group value (ADVICE r01: astype(str) turned NaN into 'nan')."""
        from pyspark.sql import Row

        from fuggetabouspark.pipeline import GROUP_SEP, NULL_GROUP

        df = spark.createDataFrame(
            [
                Row(doc_id="a", tokens=[1, 2], n_tok=2, source=None, shard="x"),
                Row(doc_id="b", tokens=[3], n_tok=1, source="nan", shard="x"),
                Row(doc_id="c", tokens=[4], n_tok=1, source="s", shard=None),
            ]
        )
        rows = build_sketches(
            df,
            [SketchSpec("c", "cbf", BloomParams(1000, 0.01), "tokens")],
            group_cols=("source", "shard"),
            partitions=2,
        ).collect()
        sks = merge_rows_to_sketches(rows)
        groups = sorted(g for (s, g) in sks if s == "c")
        assert groups == sorted(
            [f"{NULL_GROUP}{GROUP_SEP}x", f"nan{GROUP_SEP}x", f"s{GROUP_SEP}{NULL_GROUP}"]
        )
        assert sks[("c", f"{NULL_GROUP}{GROUP_SEP}x")].n_items == 2

    def test_numeric_group_labels_independent_of_null_presence(self, spark):
        """Numeric group columns must render the same label whether or
        not the batch contains a NULL: to_pandas() coerces nullable
        int64 to float64, which used to split one logical group into
        '5' and '5.0' sketch groups across batches (code-review r02).
        The string rendering now happens in Arrow before null filling."""
        from pyspark.sql import Row

        from fuggetabouspark.pipeline import NULL_GROUP

        def build(rows):
            df = spark.createDataFrame(
                rows, "doc_id string, tokens array<int>, n_tok int, source string, bucket long"
            ).repartition(1)
            out = build_sketches(
                df,
                [SketchSpec("h", "hll", HLLParams(p=10), "tokens")],
                group_cols=("bucket",),
                partitions=1,
            ).collect()
            return sorted(g for (s, g) in merge_rows_to_sketches(out) if s == "h")

        with_null = build(
            [
                Row(doc_id="a", tokens=[1], n_tok=1, source="s", bucket=5),
                Row(doc_id="b", tokens=[2], n_tok=1, source="s", bucket=None),
            ]
        )
        without_null = build(
            [
                Row(doc_id="a", tokens=[1], n_tok=1, source="s", bucket=5),
                Row(doc_id="b", tokens=[2], n_tok=1, source="s", bucket=7),
            ]
        )
        assert with_null == sorted(["5", NULL_GROUP])
        assert without_null == ["5", "7"], "labels must match the NULL-batch rendering"

    def test_distributed_probe_only_seen(self, spark, corpus_pdf):
        """seen_within_distributed(only_seen=True) must emit exactly
        the seen=true subset of the full answer (VERDICT r01 #9), with
        the full mode emitting |groups| x |probes| rows."""
        from pyspark.sql import functions as F

        df = spark_corpus(spark, "xs", partitions=4)
        state = build_sketches(
            df,
            [SketchSpec("tbf", "tbf", TimingParams(40_000, 0.005, window_ticks=WINDOW), "tokens")],
            tick_col=_tick_col(),
            partitions=4,
        )
        present = np.unique(np.concatenate(corpus_pdf.tokens.values))[:50].astype(np.int64)
        absent = (np.arange(50) + 10**15).astype(np.int64)
        probes = spark.createDataFrame(
            [(int(k),) for k in np.concatenate([present, absent])], "key long"
        )
        full = Q.seen_within_distributed(spark, state, "tbf", probes, now=WINDOW).collect()
        n_groups = state.where("spec = 'tbf'").count()
        assert len(full) == n_groups * 100
        hits = {(r["group"], r["key"]) for r in full if r["seen"]}
        filt = Q.seen_within_distributed(
            spark, state, "tbf", probes, now=WINDOW, only_seen=True
        ).collect()
        assert all(r["seen"] for r in filt)
        assert {(r["group"], r["key"]) for r in filt} == hits

    def test_spec_name_with_quote(self, spark):
        """A spec name is matched as a value, not spliced into SQL: a
        name holding ' selects its own rows, and a crafted name
        matches nothing."""
        from fuggetabouspark.sketches import HyperLogLog, TimingBloomFilter

        keys = np.arange(1, 201, dtype=np.int64)
        tbf = TimingBloomFilter.zero(TimingParams(5_000, 0.001, window_ticks=100))
        other = TimingBloomFilter.zero(TimingParams(5_000, 0.001, window_ticks=100))
        state = spark.createDataFrame(
            [("o'brien", "a", bytearray(tbf.add_batch(keys, 5).to_bytes())),
             ("plain", "b", bytearray(other.add_batch(keys, 5).to_bytes()))],
            "spec string, group string, payload binary",
        )
        probes = spark.createDataFrame([(int(k),) for k in keys[:20]], "key long")
        got = Q.seen_within_distributed(spark, state, "o'brien", probes, now=5).collect()
        assert sorted((r["group"], r["key"], r["seen"]) for r in got) == [
            ("a", int(k), True) for k in keys[:20]
        ]
        assert Q.seen_within_distributed(spark, state, "x' OR 'a'='a", probes, now=5).collect() == []

        parts = [HyperLogLog.zero(HLLParams(p=10)).add_batch(keys[i::2]) for i in range(2)]
        partials = spark.createDataFrame(
            [("o'brien", bytearray(sk.to_bytes())) for sk in parts]
            + [("plain", bytearray(HyperLogLog.zero(HLLParams(p=10)).to_bytes()))],
            "spec string, payload binary",
        )
        merged = tree_merge_global(partials, "o'brien")
        assert merged.to_bytes() == parts[0].merge(parts[1]).to_bytes()

    def test_quantiles_vs_exact(self, built, corpus_pdf):
        sks = merge_rows_to_sketches(built)
        n_tok = corpus_pdf[corpus_pdf.source == "web"].n_tok.to_numpy()
        for spec in ("tdigest", "kll"):
            for q in (0.1, 0.5, 0.9):
                sk = sks[(spec, "web")]
                est = (sk.compressed() if hasattr(sk, "compressed") else sk).quantile(q)
                true_rank = (n_tok <= est).mean()
                assert abs(true_rank - q) < 0.05, f"{spec} q={q}: rank {true_rank}"


class TestResume:
    def test_compact_checkpoint(self, spark, tmp_path):
        """Compaction folds shards into one, answers unchanged for
        in-window keys, expired ticks zeroed, shard count -> 1."""
        from fuggetabouspark.state import compact_checkpoint

        specs = [SketchSpec("tbf", "tbf", TimingParams(40_000, 0.005, window_ticks=200), "tokens")]
        df = spark_corpus(spark, "xs", partitions=4)
        ck = str(tmp_path / "ck")
        before = build_resumable(spark, df, specs, ck, n_shards=3, tick_col=_tick_col(), partitions=4)
        n_files_before = spark.read.parquet(f"{ck}/sketch_state").select("shard").distinct().count()
        now = 1001
        probes = np.unique(
            np.concatenate(local_corpus("xs").query("source=='web'").tokens.values)
        )[:500].astype(np.int64)
        ans_before = before[("tbf", "web")].contains_batch(probes, now)
        after = compact_checkpoint(spark, ck, now=now)
        assert spark.read.parquet(f"{ck}/sketch_state").select("shard").distinct().count() == 1
        assert np.array_equal(after[("tbf", "web")].contains_batch(probes, now), ans_before)
        assert n_files_before == 3
        # compaction is idempotent
        again = compact_checkpoint(spark, ck, now=now)
        assert again[("tbf", "web")].to_bytes() == after[("tbf", "web")].to_bytes()

    def test_resume_equals_uninterrupted(self, spark, tmp_path):
        specs = [
            SketchSpec("tbf", "tbf", TimingParams(40_000, 0.005, window_ticks=WINDOW), "tokens"),
            SketchSpec("hll", "hll", HLLParams(p=12), "tokens"),
        ]
        df = spark_corpus(spark, "xs", partitions=6)
        ck1 = str(tmp_path / "ck_full")
        full = build_resumable(spark, df, specs, ck1, n_shards=4, tick_col=_tick_col(), partitions=4)
        ck2 = str(tmp_path / "ck_interrupted")
        with pytest.raises(RuntimeError, match="injected failure"), crash_after_shards(2):
            build_resumable(
                spark, df, specs, ck2, n_shards=4, tick_col=_tick_col(), partitions=4
            )
        resumed = build_resumable(spark, df, specs, ck2, n_shards=4, tick_col=_tick_col(), partitions=4)
        assert set(full) == set(resumed)
        for key in full:
            assert full[key].to_bytes() == resumed[key].to_bytes(), f"{key}: resume diverged"
        # shard-level lineage fidelity (round 3, SURVEY §3.3): per-shard
        # metas carry exact counts that must sum to the corpus totals,
        # and the per-shard digests XOR to one corpus-wide ingest digest
        # identical between the interrupted+resumed and clean runs
        import json as _json

        def metas(ck):
            return [
                _json.loads(r["meta"])
                for r in spark.read.parquet(f"{ck}/lineage").collect()
            ]

        m1, m2 = metas(ck1), metas(ck2)
        n_rows = df.count()
        n_tokens = int(
            df.selectExpr("sum(size(tokens)) as t").collect()[0]["t"]
        )
        for m in (m1, m2):
            assert len(m) == 4
            assert sum(e["n_rows"] for e in m) == n_rows
            assert sum(e["n_tokens"] for e in m) == n_tokens
            assert all("input_files" in e for e in m)
        dig1 = dig2 = 0
        for e in m1:
            dig1 ^= e["token_digest"]
        for e in m2:
            dig2 ^= e["token_digest"]
        assert dig1 == dig2 != 0


def test_quantile_spec_over_tokens_rejected():
    """tdigest/kll over value='tokens' must fail at construction: the
    token hot path deduplicates batches, which would silently drop the
    multiset a quantile sketch needs (code-review r03)."""
    from fuggetabouspark.params import KLLParams, TDigestParams

    with pytest.raises(ValueError, match="n_tok"):
        SketchSpec("t", "tdigest", TDigestParams(100.0), "tokens")
    with pytest.raises(ValueError, match="n_tok"):
        SketchSpec("k", "kll", KLLParams(128), "tokens")
    SketchSpec("ok", "kll", KLLParams(128), "n_tok")  # valid
