"""The two workloads.  Each one sets up its seeded inputs, then either
repeats its operations until ``seconds`` have passed, at least once
(untraced), or runs them once untraced and once traced (traced), checking
every output.

Every operation is timed in wall seconds and in CPU seconds of the whole
process tree.  Every workload reports the same end-to-end names,
``op1_cpu_s`` to ``op4_cpu_s`` for its four operations, plus its own
wall-time metrics in the report; what they mean per workload is in
README.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from . import inputs
from .spans import STAGE_FIELDS, Tracer

GEN_REPS = 3  # inputs are generated this many times; setup_s takes the median


@dataclass
class Ctx:
    spark: object
    tracer: Tracer   # starts disabled; a traced run enables it for its traced pass
    trace: bool
    seed: int
    seconds: float
    workdir: str
    cpus: int
    session_s: float
    cpu_s: object    # () -> CPU seconds used so far by the driver and its workers

    def timed(self, fn):
        """((wall seconds, CPU seconds), result) of ``fn()``."""
        t0, c0 = time.perf_counter(), self.cpu_s()
        out = fn()
        return (time.perf_counter() - t0, self.cpu_s() - c0), out


@dataclass
class Ops:
    """Operations attempted and failed; a failed output check fails its op."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def record(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append({"op": name, "problems": problems[:5]})


@dataclass
class Result:
    e2e: dict        # generic end-to-end name -> value
    named: dict      # the workload's own metric name -> (value, unit)
    layers: dict     # per-layer metrics (traced runs only)
    ops: Ops


def medians(samples: list) -> tuple[float, float]:
    """Median wall and median CPU seconds of (wall, cpu) samples."""
    return statistics.median(w for w, _ in samples), statistics.median(c for _, c in samples)


def generate(ops: Ops, make, write) -> float:
    """Generate and write the inputs GEN_REPS times, check that the seed
    regenerates identical bytes, and return the median generation time."""
    times, digests = [], []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        tables = make()
        write(tables)
        times.append(time.perf_counter() - t0)
        digests.append(tuple(inputs.digest(t) for t in tables))
    ops.record("inputs.regenerate", [] if len(set(digests)) == 1 else ["seed does not reproduce inputs"])
    return statistics.median(times)


def set_split_size(spark, paths: list[str], cpus: int) -> None:
    """Inputs are a few MB: size scan splits so every core gets work."""
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for p in paths for d, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(total // (2 * cpus), 64 << 10)))


def scan(spark, path: str) -> None:
    """Read every corpus column through the library's reader into a noop sink."""
    from fuggetabouspark.io import read_corpus

    read_corpus(spark, path).write.format("noop").mode("overwrite").save()


def layer_metrics(tracer: Tracer, names: list[str]) -> dict:
    """Median over each span name's spans of the stage-metric sums."""
    out = {}
    for name in names:
        spans = tracer.by_name(name)
        for f in ("wall_s",) + STAGE_FIELDS:
            vals = [s[f] for s in spans]
            out[f"{name}.{f}"] = float(statistics.median(vals)) if vals else 0.0
    return out


# ======================================================================= corpus

CORPUS_DOCS = 2_500
PROBE_KEYS = 200_000
FPR_ABSENT = 100_000


def sketch_specs():
    from fuggetabouspark.params import (
        BloomParams, CMSParams, HLLParams, KLLParams, ScalingParams, TDigestParams, TimingParams,
    )
    from fuggetabouspark.pipeline import SketchSpec

    return [
        SketchSpec("cbf", "cbf", BloomParams(60_000, 0.005), "tokens"),
        SketchSpec("tbf", "tbf", TimingParams(60_000, 0.005, window_ticks=2000), "tokens"),
        SketchSpec("stbf", "stbf", ScalingParams(60_000, 0.005, window_ticks=2000), "tokens"),
        SketchSpec("hll", "hll", HLLParams(p=14), "tokens"),
        SketchSpec("cms", "cms", CMSParams(eps=5e-4, delta=0.01), "tokens"),
        SketchSpec("tdigest", "tdigest", TDigestParams(200.0), "n_tok"),
        SketchSpec("kll", "kll", KLLParams(200), "n_tok"),
    ]


def _tick_col(docs: int):
    """Event tick per doc, FIXTURES.md section 2: doc index // docs-per-tick + 1.
    A clone carries its original's index, and so its tick."""
    from pyspark.sql import functions as F

    from fuggetabouspark.fixtures import docs_per_tick

    idx = F.regexp_extract("doc_id", r"-(\d+)", 1).cast("long")
    return (idx / docs_per_tick(docs)).cast("long") + 1


def _now(docs: int) -> int:
    """Query time: the newest tick, so every doc is inside the window."""
    from fuggetabouspark.fixtures import docs_per_tick

    return (docs - 1) // docs_per_tick(docs) + 1


def _fp_slack(absent: int, error: float) -> float:
    """Allowed false positives among ``absent`` keys: bound plus 4 sigma."""
    return absent * error + 4 * np.sqrt(absent * error) + 1


def corpus(ctx: Ctx) -> Result:
    """Sketch build + probe and near-dup chain + mask over one seeded corpus.

    op1 = build all 7 sketches per source and merge them on the driver,
    op2 = warm distributed probe of the per-source TBF, op3 = near-dup chain
    (sigs, LSH, exact verify, connected components), op4 = passage masking.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fuggetabouspark import queries as Q
    from fuggetabouspark.dataops import (
        connected_components, mask_repeated_passages, minhash_lsh_candidates,
        minhash_signatures_tokens,
    )
    from fuggetabouspark.fixtures import VOCAB
    from fuggetabouspark.io import read_corpus
    from fuggetabouspark.pipeline import build_sketches, lineage_from_rows, merge_rows_to_sketches

    spark, tr, ops = ctx.spark, ctx.tracer, Ops()
    tok_path = os.path.join(ctx.workdir, "corpus")
    text_path = os.path.join(ctx.workdir, "text.parquet")
    probe_path = os.path.join(ctx.workdir, "probes.parquet")
    keys = inputs.probe_keys(PROBE_KEYS, ctx.seed, VOCAB)
    planted: list = []

    def make():
        tokens, text, pairs = inputs.near_dup_tables(CORPUS_DOCS, ctx.seed)
        planted[:] = pairs
        return [tokens, text]

    def write(tables):
        shutil.rmtree(tok_path, ignore_errors=True)
        inputs.write_partitioned(tables[0], tok_path)
        inputs.write_table(tables[1], text_path)
        inputs.write_table(pa.table({"key": keys}), probe_path)

    gen_s = generate(ops, make, write)
    set_split_size(spark, [tok_path, text_path], ctx.cpus)
    exp = inputs.sketch_expectations(tok_path, keys)
    expected_removed = inputs.mask_expected_removed(pq.read_table(text_path))
    n_docs = pq.read_metadata(text_path).num_rows
    planted_df = spark.createDataFrame(planted, "doc_a string, doc_b string")
    groups = sorted(exp["per_source"])
    specs = sketch_specs()
    tbf_err = next(s.params.error for s in specs if s.kind == "tbf")
    rng = np.random.default_rng([ctx.seed, 4])
    absent = 3_000_000_000 + rng.integers(0, 10**8, FPR_ABSENT)
    clusters_seen: set = set()
    now = _now(CORPUS_DOCS)

    # ------------------------------------------------------------ sketches
    def build():
        df = read_corpus(spark, tok_path)
        with tr.span("pipeline.build"):
            rows = build_sketches(
                df, specs, tick_col=_tick_col(CORPUS_DOCS), partitions=ctx.cpus,
                salt_mod=8, align="storage",
            ).collect()
        with tr.span("pipeline.merge_driver", spark_jobs=False):
            sks = merge_rows_to_sketches(rows)
        return rows, sks

    def check_build(rows, sks) -> list[str]:
        bad = []
        n_tok = sum(e["n_tokens"] for e in lineage_from_rows(rows))
        if n_tok != exp["total_tokens"]:
            bad.append(f"lineage tokens {n_tok} != {exp['total_tokens']}")
        for g in groups:
            gkeys, gcounts = exp["per_source"][g]
            est = sks[("hll", g)].estimate()
            if abs(est - gkeys.size) > 4 * 1.04 / 128 * gkeys.size:
                bad.append(f"hll {g}: {est:.0f} vs exact {gkeys.size}")
            if (sks[("cms", g)].query_batch(gkeys) < gcounts).any():
                bad.append(f"cms {g} below exact counts")
            tbf = sks[("tbf", g)]
            fn = int((~tbf.contains_batch(gkeys, now)).sum())
            fp = int(tbf.contains_batch(absent, now).sum())
            if fn:
                bad.append(f"tbf {g}: {fn} false negatives")
            if fp > _fp_slack(FPR_ABSENT, tbf_err):
                bad.append(f"tbf {g}: fpr {fp / FPR_ABSENT:.5f} over bound")
        return bad

    def tbf_state(sks, extra_key=None):
        """TBF rows as a state frame; ``extra_key`` makes a new state version."""
        rows = []
        for g in groups:
            sk = sks[("tbf", g)]
            if extra_key is not None:
                sk = sk.merge(type(sk).zero(sk.params).add_batch(np.array([extra_key]), now))
            rows.append(("tbf", g, bytearray(sk.to_bytes()), sk.n_items))
        return spark.createDataFrame(rows, "spec string, group string, payload binary, n_items long")

    def probe(state, name="queries.probe_warm"):
        with tr.span(name):
            hits = Q.seen_within_distributed(
                spark, state, "tbf", spark.read.parquet(probe_path), now=now
            ).groupBy("group").agg(F.sum(F.col("seen").cast("long")).alias("n")).collect()
        return {r["group"]: int(r["n"]) for r in hits}

    def check_probe(hits) -> list[str]:
        bad = []
        for g in groups:
            lo = exp["probe_present"][g]
            hi = lo + _fp_slack(PROBE_KEYS - lo, tbf_err)
            if not lo <= hits.get(g, -1) <= hi:
                bad.append(f"probe {g}: {hits.get(g)} hits outside [{lo}, {hi:.0f}]")
        return bad

    # ------------------------------------------------------------- near-dup
    def chain(materialize: bool = False):
        """sigs -> LSH candidates -> exact token-set Jaccard verify -> CC.
        With ``materialize`` each phase's output is checkpointed inside its
        own span, so lazy work is charged to the phase that defines it."""
        def done(df):
            return df.localCheckpoint(eager=True) if materialize else df

        corpus_df = spark.read.parquet(tok_path)
        with tr.span("dedup.sigs"):
            sig = done(minhash_signatures_tokens(corpus_df, num_hashes=64))
        with tr.span("dedup.lsh"):
            cand = done(minhash_lsh_candidates(sig, bands=16, rows_per_band=4))
        with tr.span("dedup.verify"):
            toks = corpus_df.select(
                "doc_id", F.array_distinct(F.col("tokens").cast("array<long>")).alias("ws")
            )
            docs_in = cand.select(F.col("doc_a").alias("doc_id")).union(
                cand.select(F.col("doc_b").alias("doc_id"))
            ).distinct()
            toks_c = toks.join(docs_in, "doc_id", "left_semi")
            pairs = (
                cand.join(toks_c.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa")), "doc_a")
                .join(toks_c.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb")), "doc_b")
                .select("doc_a", "doc_b", (
                    F.size(F.array_intersect("wa", "wb")) >= 0.8 * F.size(F.array_union("wa", "wb"))
                ).alias("ok"))
                .localCheckpoint(eager=True)
            )
            agg = pairs.agg(
                F.count("*").alias("n_cand"), F.sum(F.col("ok").cast("long")).alias("n_ver")
            ).collect()[0]
        with tr.span("dedup.cc"):
            cc, rounds = connected_components(
                pairs.where("ok").select("doc_a", "doc_b"), return_rounds=True
            )
            n_clusters = cc.agg(F.countDistinct("comp")).collect()[0][0]
        if materialize:
            sig.unpersist()
            cand.unpersist()
        return pairs, {"candidates": int(agg["n_cand"]), "verified": int(agg["n_ver"] or 0),
                       "rounds": rounds, "clusters": int(n_clusters)}

    def check_chain(pairs, out) -> list[str]:
        bad = []
        found = pairs.where("ok").join(planted_df, ["doc_a", "doc_b"], "left_semi").count()
        pairs.unpersist()
        if found != len(planted):
            bad.append(f"{len(planted) - found} planted clone pairs not verified")
        clusters_seen.add(out["clusters"])
        if len(clusters_seen) > 1:
            bad.append(f"cluster counts differ between repetitions: {sorted(clusters_seen)}")
        return bad

    def mask():
        with tr.span("dedup.mask"):
            return mask_repeated_passages(spark.read.parquet(text_path), window=50).agg(
                F.sum("n_tokens_removed")
            ).collect()[0][0]

    def check_mask(removed) -> list[str]:
        return [] if removed == expected_removed else [f"mask removed {removed} != {expected_removed}"]

    # ---------------------------------------------------------------- cycle
    walls: dict = {"build": [], "probe": [], "chain": [], "mask": []}   # (wall, cpu) samples

    def cycle(materialize=False, cold_key=None):
        """One build, a cold and a warm probe of the TBFs it built, one chain
        and one mask, each checked.  ``cold_key`` adds a key to the TBFs, so
        that every pass probes a state version of its own."""
        dt, (rows, sks) = ctx.timed(build)
        walls["build"].append(dt)
        ops.record("build", check_build(rows, sks))
        state = tbf_state(sks, extra_key=cold_key)
        # the first probe of a state broadcasts and decodes it; the second
        # finds it decoded in the per-worker cache, and is the one timed
        ops.record("probe", check_probe(probe(state, "queries.probe_cold")))
        dt, hits = ctx.timed(lambda: probe(state))
        walls["probe"].append(dt)
        ops.record("probe", check_probe(hits))
        dt, (pairs, out) = ctx.timed(lambda: chain(materialize))
        walls["chain"].append(dt)
        ops.record("chain", check_chain(pairs, out))
        dt, removed = ctx.timed(mask)
        walls["mask"].append(dt)
        ops.record("mask", check_mask(removed))
        return state, out

    # No warm-up: the first cycle, which starts the Python workers and
    # compiles the plans, is the one measured.  A warm-up cycle would cost
    # a third of a run, which the run budget does not leave.
    setup_s = ctx.session_s + gen_s
    layers = {}
    if not ctx.trace:
        t_end = time.perf_counter() + ctx.seconds
        while not walls["build"] or time.perf_counter() < t_end:
            cycle()
    else:
        # A warm-up cycle, then an untraced and a traced pass of the same
        # work, materialized phases included, so that their difference is
        # the tracer alone.
        cycle(materialize=True, cold_key=10**12)
        for w in walls.values():
            w.clear()

        def one_pass(k):
            with tr.span("pass"):
                with tr.span("io.scan"):
                    scan(spark, tok_path)
                return cycle(materialize=True, cold_key=10**12 + k)

        (untraced_s, _), _ = ctx.timed(lambda: one_pass(1))
        for w in walls.values():
            w.clear()
        tr.enabled = True
        (traced_s, _), (fresh, out) = ctx.timed(lambda: one_pass(2))
        tr.enabled = False
        tr.finish()
        layers = layer_metrics(tr, [
            "io.scan", "pipeline.build", "queries.probe_warm", "queries.probe_cold",
            "dedup.sigs", "dedup.lsh", "dedup.verify", "dedup.cc", "dedup.mask",
        ])
        layers["pipeline.merge_driver.wall_s"] = tr.by_name("pipeline.merge_driver")[0]["wall_s"]
        layers["queries.probe.broadcast_bytes"] = float(
            sum(len(r["payload"]) for r in fresh.select("payload").collect())
        )
        layers["dedup.lsh.candidates"] = float(out["candidates"])
        layers["dedup.verify.useful_ratio"] = out["verified"] / max(out["candidates"], 1)
        layers["dedup.cc.rounds"] = float(out["rounds"])
        layers["trace.overhead_s"] = traced_s - untraced_s
        from .kernels import sketch_kernels

        sample = inputs.corpus_table(1_000, ctx.seed).column("tokens").combine_chunks().flatten()
        layers.update(sketch_kernels(specs, sample.to_numpy().astype(np.int64)))

    b, p, c, m = (medians(walls[k]) for k in ("build", "probe", "chain", "mask"))
    return Result(
        e2e={"setup_s": setup_s, "op1_cpu_s": b[1], "op2_cpu_s": p[1], "op3_cpu_s": c[1], "op4_cpu_s": m[1]},
        named={"build_tokens_per_s": (exp["total_tokens"] / b[0], "1/s"),
               "probe_keys_per_s": (PROBE_KEYS / p[0], "1/s"),
               "near_dup_docs_per_s": (n_docs / c[0], "1/s"),
               "mask_docs_per_s": (n_docs / m[0], "1/s")},
        layers=layers, ops=ops,
    )


# ================================================================= ingest_guard

GUARD_SHARDS = 2   # the first trigger and one steady trigger; maintenance follows the second
GUARD_DOCS = 400
GUARD_WINDOW = 2   # ticks; shard s is ingested at tick s + 1


def _guard(spark, root: str, cpus: int):
    """A guard with all four families and a clean_dir under ``root``.  It
    never compacts or expires by itself: the benchmark calls ``maintain``."""
    from fuggetabouspark.dataops import StreamingIngestGuard
    from fuggetabouspark.params import TimingParams

    def params(capacity):
        return TimingParams(capacity=capacity, error=0.001, window_ticks=GUARD_WINDOW)

    return StreamingIngestGuard(
        spark, os.path.join(root, "checkpoint"), clean_dir=os.path.join(root, "clean"),
        partitions=cpus, compact_every=None, expire_every=None, params=params(20_000),
        near=True, near_params=params(50_000), passages=True, passage_params=params(100_000),
        embeddings=True, emb_dim=inputs.GUARD_DIM, emb_params=params(20_000),
    )


def maintain(spark, guard, epoch: int, tr: Tracer) -> None:
    """What a four-family guard with ``compact_every = expire_every = n``
    runs at the end of its n-th trigger: the four compactions, then expiry
    at the trigger's tick."""
    from fuggetabouspark.dataops import (
        compact_dedup_checkpoint, compact_emb_checkpoint, compact_near_checkpoint,
        compact_passages_checkpoint, expire_ledgers,
    )

    ck = guard.checkpoint_dir
    with tr.span("incremental.compact"):
        for compact in (compact_dedup_checkpoint, compact_near_checkpoint,
                        compact_passages_checkpoint, compact_emb_checkpoint):
            compact(spark, ck)
    with tr.span("incremental.expire"):
        expire_ledgers(spark, ck, now=guard.now_for_epoch(epoch))


def _epoch_meta(lineage: str, epoch: int):
    """The lineage meta a family committed for ``epoch``, read with pyarrow."""
    import json

    import pyarrow.dataset as ds

    if not os.path.exists(lineage):
        return None
    metas = [json.loads(m) for m in ds.dataset(lineage).to_table(columns=["meta"]).column("meta").to_pylist()]
    return next((m for m in metas if m.get("epoch") == epoch), None)


def ingest_guard(ctx: Ctx) -> Result:
    """A StreamingIngestGuard with all four families (exact, near, passages,
    embeddings) and a clean_dir, fed a fixed sequence of shards; compaction
    and expiry follow the last trigger.

    op1 = the steady (second) trigger, op2 = the compaction and expiry after
    it, op3 = the first trigger (empty history), op4 = all of them together.
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from fuggetabouspark import queries as Q
    from fuggetabouspark.dataops import dedup_completed_shards, ledger_df, load_dedup_state

    spark, tr, ops = ctx.spark, ctx.tracer, Ops()
    shard_paths = [os.path.join(ctx.workdir, f"shard{i}.parquet") for i in range(GUARD_SHARDS)]
    plants: dict = {}

    def make():
        tables, p = inputs.guard_shards(GUARD_SHARDS, GUARD_DOCS, ctx.seed, GUARD_WINDOW)
        plants.update(p)
        return tables

    def write(tables):
        for t, p in zip(tables, shard_paths):
            inputs.write_table(t, p)

    gen_s = generate(ops, make, write)
    setup_s = ctx.session_s + gen_s

    def check_trigger(guard, epoch: int) -> list[str]:
        bad = []
        ck = guard.checkpoint_dir
        meta = next((m for m in dedup_completed_shards(spark, ck) if m.get("epoch") == epoch), None)
        got = (meta["n_dup_history"], meta["n_dup_intra"]) if meta else None
        want = (plants["hist"][epoch], plants["intra"][epoch])
        if got != want:
            bad.append(f"exact (history, intra) dups {got} != planted {want}")
        meta = _epoch_meta(os.path.join(ck, "near", "lineage"), epoch)
        got = (meta["n_near_dup_history"], meta["n_near_dup_intra"]) if meta else None
        want = (plants["hist"][epoch] + plants["near"][epoch], plants["intra"][epoch])
        if got != want:
            bad.append(f"near (history, intra) dups {got} != planted {want}")
        out = pq.read_table(os.path.join(guard.clean_dir, f"_epoch={epoch}"))
        kept = set(out.column("doc_id").to_pylist())
        dropped = plants["dropped"][epoch]
        n_dropped = sum(len(ids) for ids in dropped.values())
        if out.num_rows != GUARD_DOCS - n_dropped:
            bad.append(f"clean rows {out.num_rows} != {GUARD_DOCS} - {n_dropped}")
        for kind, ids in dropped.items():
            leaked = kept.intersection(ids)
            if leaked:
                bad.append(f"{len(leaked)} of {len(ids)} {kind}s published")
        removed = pc.sum(out.column("_passage_tokens_removed")).as_py() or 0
        if removed != plants["removed"][epoch]:
            bad.append(f"passage tokens removed {removed} != {plants['removed'][epoch]}")
        return bad

    def feed(guard, epoch: int, trigger) -> tuple[float, float]:
        dt, _ = ctx.timed(trigger)
        ops.record("trigger", check_trigger(guard, epoch))
        return dt

    def trigger(guard, epoch: int):
        return lambda: guard.process_batch(spark.read.parquet(shard_paths[epoch]), epoch)

    last = GUARD_SHARDS - 1
    if not ctx.trace:
        # whole shard sequences, each on a fresh checkpoint, until
        # ``seconds`` have passed; at least one
        runs = []
        t_end = time.perf_counter() + ctx.seconds
        while not runs or time.perf_counter() < t_end:
            guard = _guard(spark, os.path.join(ctx.workdir, f"guard{len(runs)}"), ctx.cpus)
            first, steady = (feed(guard, e, trigger(guard, e)) for e in range(GUARD_SHARDS))
            maint, _ = ctx.timed(lambda: maintain(spark, guard, last, tr))
            runs.append((first, steady, maint))
        first, steady, maint = (medians([r[i] for r in runs]) for i in range(3))
        total = medians([tuple(map(sum, zip(*r))) for r in runs])
        # the trigger that carries maintenance: the steady trigger plus it
        maint_trigger = medians([tuple(map(sum, zip(r[1], r[2]))) for r in runs])
        return Result(
            e2e={"setup_s": setup_s, "op1_cpu_s": steady[1], "op2_cpu_s": maint[1],
                 "op3_cpu_s": first[1], "op4_cpu_s": total[1]},
            named={"trigger_p50_s": (steady[0], "s"), "maint_trigger_s": (maint_trigger[0], "s"),
                   "ingest_docs_per_s": (GUARD_DOCS * GUARD_SHARDS / total[0], "1/s")},
            layers={}, ops=ops,
        )
    # Two guards on their own checkpoints take the same shards: ``ref``
    # untraced, ``traced`` with spans.  The first trigger of ``ref`` starts
    # the workers for both; the second triggers run back to back, traced
    # first, and are the like-for-like pair that gives the tracing overhead.
    ref = _guard(spark, os.path.join(ctx.workdir, "ref"), ctx.cpus)
    traced = _guard(spark, os.path.join(ctx.workdir, "traced"), ctx.cpus)
    ck = traced.checkpoint_dir

    def traced_trigger(epoch):
        tr.enabled = True
        with tr.span("incremental.trigger"):
            trigger(traced, epoch)()
        tr.enabled = False

    walls, traced_walls = [], []
    for e in range(GUARD_SHARDS):
        steps = [(walls, ref, trigger(ref, e)), (traced_walls, traced, lambda: traced_trigger(e))]
        for out, guard, step in (steps if e == 0 else steps[::-1]):
            out.append(feed(guard, e, step))
    tr.enabled = True
    maintain(spark, traced, last, tr)

    now = traced.now_for_epoch(last)
    with tr.span("incremental.lineage_read", spark_jobs=False):
        dedup_completed_shards(spark, ck)
    with tr.span("incremental.state_load"):
        state = load_dedup_state(spark, ck)
    payloads = [("all", state.to_bytes())]
    keys = spark.range(100_000).selectExpr("id * 7919 as key")
    with tr.span("queries.probe_cold"):
        Q.seen_within_payloads(spark, payloads, keys, now=now).count()
    tr.enabled = False
    tr.finish()
    layers = layer_metrics(tr, ["incremental.trigger", "incremental.compact", "incremental.expire",
                                "queries.probe_cold"])
    for name in ("incremental.lineage_read", "incremental.state_load"):
        layers[f"{name}.wall_s"] = tr.by_name(name)[0]["wall_s"]
    layers["queries.probe.broadcast_bytes"] = float(len(payloads[0][1]))
    layers["incremental.checkpoint_bytes"] = float(sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(ck) for f in fs
    ))
    layers["incremental.ledger_rows"] = float(ledger_df(spark, ck).count())
    layers["trace.overhead_s"] = traced_walls[1][0] - walls[1][0]
    return Result(e2e={}, named={}, layers=layers, ops=ops)
