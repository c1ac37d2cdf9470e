"""Incremental cross-shard dedup — the composition of the library's two
halves (sketch membership x dedup family; SURVEY.md §2.4 seen_within +
§3.3 incremental shards, VERDICT r03 "Next round" #1).

The 100 TB workflow this serves: dedup a NEW ingest shard against the
whole corpus history WITHOUT re-joining history. History is carried by
two compact artifacts, both tiny relative to the corpus text:

- a decaying membership sketch (TBF/STBF) over 64-bit text
  fingerprints — megabytes, broadcast to every executor;
- an append-only fp ledger parquet ``(fp, doc_id, tick, shard)`` —
  ~30 bytes per RETAINED historical doc.

A new shard's docs probe the broadcast sketch executor-side
(``queries.seen_within_distributed``): zero false negatives in-window
means a miss is PROOF the doc is new, so only the hit fraction
(true dup rate + configured FPR) ever proceeds to exact verification —
a broadcast join of the (tiny) candidate fp set against the ledger.
The sketch FPR therefore costs ledger-scan work, never correctness:
the emitted flags are text-exact, which is what makes this operator
oracle-gateable with plain SQL (no bound verdicts needed).

Time-decaying semantics (the fuggetaboutit primitive): a historical
doc only suppresses a new clone while its fingerprint's latest
RETAINED sighting is within ``window`` ticks, i.e. tick in
[now - window + 1, now] — matching TimingBloomFilter.contains_batch
exactly. Once history decays, the next clone survives and re-enters
both the sketch and the ledger with its own tick.

Scale shape per ingest: one shard-local shuffle (groupBy fp for the
intra-shard first-occurrence), one broadcast probe map, one
broadcast-semi-join against the ledger restricted to candidate fps,
zero joins against corpus text. State grows O(retained docs) in the
ledger and O(1) in the sketch.

Commit shape per ingest: the two shard-sized artifacts (the ledger
rows and, in the guard, the clean output) are Spark writes. The small
ones — the shard's membership-sketch delta row, its lineage row and
compaction's shard=-1 row — are committed FROM THE DRIVER by one
helper (_commit_row): pyarrow writes the row under a '_'-prefixed
temp name, and an atomic ``os.replace`` publishes it. The sketch
delta itself is one mapInArrow pass of the library's update kernel
over the survivors as they are partitioned, merged on the driver; no
one-row Spark write and no merge stage pays Python-worker start-up.
Reads of the same artifacts are driver-side pyarrow too
(_pa_read_table), so lineage, state loads and compaction run no Spark
job at all.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEDUP_SPEC = "dedup_fp"
LEDGER_DDL = "fp long, doc_id string, tick long, shard int"
ANNOTATED_DDL = (
    "doc_id string, fp long, tick long, "
    "is_dup_history boolean, is_dup_intra boolean, hist_doc_id string"
)


def _paths(checkpoint_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(checkpoint_dir, "sketch_state"),
        os.path.join(checkpoint_dir, "fp_ledger"),
        os.path.join(checkpoint_dir, "lineage"),
    )


def _read_swap(spark, path: str, ddl: str) -> DataFrame | None:
    """Read a checkpoint parquet dir that may be mid-swap: expiry and
    compaction replace directories via tmp → rename(path, path_old) →
    rename(tmp, path), so a crash between the renames leaves only
    ``path_old`` — fall back to it. The explicit schema makes an
    EMPTY rewritten ledger (zero part files) readable."""
    if not os.path.exists(path) and os.path.exists(path + "_old"):
        path = path + "_old"
    if not os.path.exists(path):
        return None
    return spark.read.schema(ddl).parquet(path)


def _swap_dir(write_fn, path: str) -> None:
    """Atomic-enough directory replacement shared by compaction and
    ledger expiry: write_fn(tmp) produces the replacement, then the
    two-rename swap leaves either the old dir, the _old fallback, or
    the new dir visible at every crash point (_read_swap handles all
    three)."""
    import shutil

    tmp, old = path + "_swapping", path + "_old"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)
        shutil.move(path, old)  # crash here → loader uses _old
    shutil.move(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _heal_swap(path: str) -> None:
    """Finish a crashed _swap_dir before APPENDING to ``path``: if only
    the _old copy exists, restore it as the primary. A plain
    mode('append') write would otherwise recreate the primary
    directory containing ONLY the new rows — _read_swap then prefers
    it, shadowing the whole history in _old, and the next expiry
    rmtree's _old forever (code-review r05). Readers never heal (no
    mutation on a query path); every state/ledger writer must call
    this first."""
    if not os.path.exists(path) and os.path.exists(path + "_old"):
        os.rename(path + "_old", path)


def _pa_read_table(path: str, columns=None):
    """Driver-side parquet read via pyarrow — NO Spark job. The
    lineage and sketch-state directories are small driver-local
    artifacts read on EVERY ingest/probe; a full Spark job per read
    (plan + schedule + collect through py4j) dominated steady-state
    per-trigger cost (round 6, guide §5: the driver should do almost
    no data work — and these reads ARE driver work either way, the
    Spark detour just made them slower). pyarrow.dataset skips
    '_'-prefixed files (_SUCCESS) exactly as Spark's reader does; the
    incremental checkpoint layout already assumes a filesystem path
    (os.path/shutil swap protocol), so a pyarrow-readable location is
    an existing module-wide invariant, not a new one."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=columns)


# pyarrow types of the driver-committed artifacts' columns: the state
# row (spec, group, payload, n_items, shard) and the lineage row
# (shard, meta) — the types Spark's writer gives the same DDL
_ARTIFACT_TYPES = {
    "spec": "string", "group": "string", "payload": "binary",
    "n_items": "int64", "shard": "int32", "meta": "string",
}


def _commit_row(path: str, **row) -> None:
    """Append ONE row to the parquet directory ``path`` from the driver
    — the single commit path of every small checkpoint artifact the
    incremental families write (state rows, lineage rows, compaction's
    shard=-1 row). A one-row ``createDataFrame(...).write`` is a
    Python-RDD job of several Python tasks, each paying the worker's
    fixed start-up cost before it touches its single row; pyarrow
    writes the same row in-process with no Spark job at all.

    The file is written under a '_'-prefixed name and then
    ``os.replace``d to its final name: the rename is atomic, and both
    pyarrow.dataset and Spark's reader skip '_' files, so a crash
    between write and rename leaves an invisible temp file, never a
    torn part. Column order follows ``row``; types follow
    _ARTIFACT_TYPES, so driver- and Spark-written parts of one
    directory read back under one schema."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        k: pa.array([v], type=getattr(pa, _ARTIFACT_TYPES[k])())
        for k, v in row.items()
    })
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "_" + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def _append_state_row(state_path: str, spec: str, sk, shard: int) -> None:
    """The shard's membership-sketch row (group '' — the incremental
    families never group their state)."""
    _commit_row(
        state_path, spec=spec, group="", payload=sk.to_bytes(),
        n_items=int(sk.n_items), shard=int(shard),
    )


def _write_lineage(lineage_path: str, meta: dict) -> None:
    """The shard's lineage row — the family's commit marker, always
    its LAST write."""
    _commit_row(
        lineage_path, shard=int(meta["shard"]),
        meta=json.dumps(meta, sort_keys=True),
    )


def _commit_sketch_delta(
    state_path: str, frame: DataFrame, key, tick, name: str, params,
    shard: int, partitions: int | None,
) -> None:
    """Fold ``frame``'s ``key`` column (one 64-bit key per row, at
    ``tick``) into a TBF/STBF delta and append it as the shard's state
    row. The partials come from the library's own update kernel
    (pipeline.make_update_fn) run over the frame AS IT IS partitioned —
    no repartition, no applyInPandas merge stage — and are merged on
    the driver with merge_rows_to_sketches, as the corpus build does.
    Merges are byte-order-invariant monoid merges and n_items counts
    raw items, so a TBF delta's bytes do not depend on the partitioning
    (an STBF's inner-tier counters are batching-dependent by
    construction, as in every build).

    ``partitions`` caps the partials collected to the driver
    (``coalesce``, which does not shuffle): driver memory for the
    delta is at most ``partitions`` × payload. An empty frame commits
    no row — a shard that retained nothing adds nothing to the sketch."""
    from ..params import ScalingParams
    from ..pipeline import PARTIAL_DDL, SketchSpec, make_update_fn, merge_rows_to_sketches

    kind = "stbf" if isinstance(params, ScalingParams) else "tbf"
    spec = SketchSpec(name, kind, params, value="tokens")
    rows = frame.select(F.array(key).alias("tokens"), tick.cast("long").alias("tick"))
    if partitions is not None:
        rows = rows.coalesce(int(partitions))
    partials = rows.mapInArrow(
        make_update_fn([spec], (), 1), schema=PARTIAL_DDL
    ).collect()
    sk = merge_rows_to_sketches(partials).get((name, ""))
    if sk is not None:
        _append_state_row(state_path, name, sk, shard)


def _completed_metas(spark, lineage_path: str) -> list[dict]:
    """Lineage metadata of completed shards at ``lineage_path``, in
    shard order — shared by all three incremental operators
    (code-review r05: the recovery rules must live once)."""
    if not os.path.exists(lineage_path):
        return []
    metas = _pa_read_table(lineage_path, columns=["meta"]).column("meta").to_pylist()
    return sorted((json.loads(m) for m in metas), key=lambda m: m["shard"])


def _load_sketch_state(spark, state_path: str, done: list[int], spec: str,
                       with_raw: bool = False):
    """Merged membership sketch over the completed shards' rows (plus
    the always-valid shard=-1 compacted row), with the _old fallback
    for a compaction that crashed mid-swap — the single implementation
    behind all three operators' state loaders. Merge-all within the
    completed set: union-only monoids are one-sided safe under
    crash-retried shard ids (see load_dedup_state's docstring).

    ``with_raw=True`` returns ``(sketch, raw_payload_or_None)``: when
    exactly ONE row contributed, the merged sketch IS that row's
    payload, and the probe path can broadcast the stored bytes as-is
    instead of paying a zlib re-compress of the full bucket array
    (round 6; post-compaction steady state is exactly one row).

    Only UNGROUPED rows (``group == ''``) are merged: every incremental
    writer commits group '' (_append_state_row), and a grouped row in
    the same directory is a different sketch that must not be folded
    into the membership state."""
    from ..sketches import sketch_from_bytes

    if not os.path.exists(state_path) and os.path.exists(state_path + "_old"):
        state_path = state_path + "_old"
    if not done or not os.path.exists(state_path):
        return (None, None) if with_raw else None
    tbl = _pa_read_table(state_path, columns=["spec", "group", "payload", "shard"])
    ok = set(done) | {-1}
    payloads = [
        p
        for s, g, p, sh in zip(*(
            tbl.column(c).to_pylist() for c in ("spec", "group", "payload", "shard")
        ))
        if s == spec and g == "" and sh in ok
    ]
    if not payloads:
        return (None, None) if with_raw else None
    sk = sketch_from_bytes(payloads[0])
    for p in payloads[1:]:
        sk = sk.merge(sketch_from_bytes(p))
    if with_raw:
        return sk, (payloads[0] if len(payloads) == 1 else None)
    return sk


def _done_shards(metas: list[dict], exclude_epoch) -> list[int]:
    """Completed shard ids, optionally excluding shards committed by a
    prior ATTEMPT of the same stream epoch: when a multi-operator guard
    crashes after operator 1 committed but before the final epoch
    marker, the replay must not treat operator 1's own half-epoch
    output as history (every doc would be flagged a duplicate of
    itself and the epoch's clean output would be lost)."""
    return [
        int(m["shard"])
        for m in metas
        if exclude_epoch is None or m.get("epoch") != int(exclude_epoch)
    ]


def load_dedup_state(spark, checkpoint_dir: str, exclude_epoch=None,
                     with_raw: bool = False):
    """Merged membership sketch from all COMPLETED shards (those with
    a durable lineage row), or None if no shard ever completed.

    Filtering by lineage is what makes the sketch-first / ledger-second
    / lineage-last write order an actual recovery protocol (code-review
    r04): an ingest that died between the sketch write and the ledger
    write leaves orphan sketch rows, and before this fix a
    missing-ledger checkpoint crashed the probe outright.

    Within the completed shards, ALL rows are merged — deliberately
    NOT the pick-one-row-per-shard retry dedupe state.load_state uses
    for additive sketches: a crash-retried ingest reuses the orphan's
    shard id, and picking one row could keep the orphan and DROP the
    retry's fingerprints — a false negative, i.e. a silently missed
    duplicate forever. The membership sketch is a union-only monoid,
    so over-merging is one-sided safe: an orphan's extra fingerprints
    only create candidate hits the ledger verification kills, while
    n_items (advisory here) may double-count.

    ``exclude_epoch`` drops shards whose lineage meta carries that
    stream epoch (see _done_shards). Safe against the shard=-1
    compacted row because compaction only runs after an epoch FULLY
    commits, so a same-epoch shard can never have been folded into it
    by the time a replay needs the exclusion."""
    state_path, _, _ = _paths(checkpoint_dir)
    done = _done_shards(completed_shards(spark, checkpoint_dir), exclude_epoch)
    return _load_sketch_state(spark, state_path, done, DEDUP_SPEC,
                              with_raw=with_raw)


def compact_dedup_checkpoint(spark, checkpoint_dir: str):
    """Fold every completed shard's sketch rows into ONE shard=-1 row,
    atomically replacing the sketch_state directory (aside-rename swap,
    same crash protocol as state.compact_checkpoint — load falls back
    to the _old copy if a crash lands between the renames). Ledger and
    lineage are untouched: the ledger is read with columnar pushdown
    and lineage rows are tiny, but the sketch-state merge was
    O(shards × payload) per load — the unbounded per-trigger cost
    code-review r04 flagged for long-running streaming ingest. Safe
    and idempotent any time; returns the merged sketch (None if the
    checkpoint is empty)."""
    state_path, _, _ = _paths(checkpoint_dir)
    return _compact_sketch_state(
        state_path, load_dedup_state(spark, checkpoint_dir), DEDUP_SPEC
    )


def _compact_sketch_state(state_path: str, sk, spec: str):
    """Shared body of the four compactors: fold the merged sketch into
    ONE always-valid shard=-1 row, written from the driver
    (_append_state_row — no Spark job), via the _swap_dir crash
    protocol."""
    if sk is None:
        return None
    _swap_dir(lambda tmp: _append_state_row(tmp, spec, sk, -1), state_path)
    return sk


def ledger_df(
    spark, checkpoint_dir: str, completed_only: bool = True, exclude_epoch=None
) -> DataFrame | None:
    """The fp ledger, restricted (by default) to completed shards so a
    half-written ingest's rows are invisible — the same recovery rule
    as load_dedup_state."""
    _, ledger_path, _ = _paths(checkpoint_dir)
    df = _read_swap(spark, ledger_path, LEDGER_DDL)
    if df is None:
        return None
    if completed_only:
        done = _done_shards(completed_shards(spark, checkpoint_dir), exclude_epoch)
        df = df.where(F.col("shard").isin(done))
    return df


def expire_ledgers(
    spark, checkpoint_dir: str, now: int, window: int | None = None
) -> dict:
    """Prune DECAYED rows from every ledger under ``checkpoint_dir`` —
    the exact-dedup fp ledger and, if present, the near-dup band and
    sig ledgers. Without this, ledgers grow monotonically: the query
    path filters out-of-window rows (so correctness never depended on
    expiry) but "state = O(retained docs)" silently becomes O(all docs
    ever) on a month-long ingest (VERDICT r04 "What's missing" #1).

    A row is retained iff ``tick >= now - window + 1`` — the oldest
    tick any future query can see, because query windows may only ever
    NARROW a sketch's configured window (queries._with_window) and
    ``now`` is monotone. ``window`` defaults to each path's own sketch
    window_ticks. Each ledger is rewritten via the same aside-rename
    swap as compaction (crash between renames → _read_swap falls back
    to the _old copy). Safe and idempotent any time; the sketch itself
    needs no pruning — it decays by construction. Returns
    {ledger_name: rows_kept}."""
    from ..queries import sk_window

    kept: dict[str, int] = {}
    _, fp_path, _ = _paths(checkpoint_dir)
    band_path, sig_path = _near_paths(checkpoint_dir)[1:3]
    wcache: dict[str, int | None] = {}

    def win_of(kind: str, loader) -> int | None:
        # one state load per operator family, not per ledger (the near
        # sketch backs both the band and sig ledgers)
        if kind not in wcache:
            sketch = loader()
            wcache[kind] = None if sketch is None else sk_window(sketch)
        return wcache[kind]

    for name, path, ddl, kind, loader in (
        ("fp_ledger", fp_path, LEDGER_DDL, "exact",
         lambda: load_dedup_state(spark, checkpoint_dir)),
        ("band_ledger", band_path, BAND_LEDGER_DDL, "near",
         lambda: _load_near_state(spark, checkpoint_dir)),
        ("sig_ledger", sig_path, SIG_LEDGER_DDL, "near",
         lambda: _load_near_state(spark, checkpoint_dir)),
        ("passage_ledger", _passage_paths(checkpoint_dir)[1], PASSAGE_LEDGER_DDL,
         "passages", lambda: _load_passage_state(spark, checkpoint_dir)),
        ("bucket_ledger", _emb_paths(checkpoint_dir)[1], EMB_BUCKET_LEDGER_DDL,
         "emb", lambda: _load_emb_state(spark, checkpoint_dir)),
        ("vec_ledger", _emb_paths(checkpoint_dir)[2], EMB_VEC_LEDGER_DDL,
         "emb", lambda: _load_emb_state(spark, checkpoint_dir)),
    ):
        df = _read_swap(spark, path, ddl)
        if df is None:
            continue
        w = window if window is not None else win_of(kind, loader)
        if w is None:
            continue
        live = df.where(F.col("tick") >= F.lit(int(now) - int(w) + 1))
        # localCheckpoint BEFORE the swap: the plan reads the very
        # directory the swap replaces (same cache-invalidation trap as
        # incremental_dedup's annotated frame)
        live = live.localCheckpoint(eager=True)
        _swap_dir(
            lambda tmp, live=live: live.write.mode("overwrite").parquet(tmp), path
        )
        kept[name] = live.count()
        live.unpersist()
    return kept


def completed_shards(spark, checkpoint_dir: str) -> list[dict]:
    """Lineage metadata of completed ingests, in shard order."""
    return _completed_metas(spark, _paths(checkpoint_dir)[2])


def _shard_fps(new_df: DataFrame, text_col: str, tick_col, now: int) -> DataFrame:
    """The shard's (doc_id, fp, tick) frame — the only shape the exact
    incremental operator ever looks at (one row per doc, ~25 B)."""
    return new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.xxhash64(F.col(text_col)).alias("fp"),
        (tick_col if tick_col is not None else F.lit(now)).cast("long").alias("tick"),
    )


def annotate_against_history(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int | None = None,
    text_col: str = "text",
    tick_col=None,
    exclude_epoch=None,
    fps_df: DataFrame | None = None,
) -> DataFrame:
    """The LAZY annotated-flags plan incremental_dedup materializes:
    exposed separately so plan gates (tools/explain_plans.py) can
    .explain() the real operator — the probe must stay a pure map and
    the ledger verify a BroadcastHashJoin — instead of a hand-built
    replica (code-review r04). Callers who want the flags should use
    incremental_dedup(update_state=False): the raw plan re-reads the
    checkpoint on every action.

    ``fps_df``: a pre-computed (ideally localCheckpoint()ed) frame of
    _shard_fps(new_df, ...) — the returned plan references the fp
    frame THREE times (probe keys, intra-shard firsts, the annotated
    left side), so a caller that materializes it once saves two
    scan+hash passes over the shard text per action (round 6, guide
    §2.4; incremental_dedup does exactly this)."""
    from ..queries import _with_window, seen_within_payloads, sk_window

    fps = fps_df if fps_df is not None else _shard_fps(new_df, text_col, tick_col, now)

    # ---- history probe: broadcast sketch, then exact ledger verify ----
    sk, raw = load_dedup_state(
        spark, checkpoint_dir, exclude_epoch=exclude_epoch, with_raw=True
    )
    if sk is not None:
        w = window if window is not None else sk_window(sk)
        if w > sk_window(sk):
            raise ValueError(
                f"window {w} exceeds the sketch's window_ticks "
                f"{sk_window(sk)}: older sightings may already be decayed, "
                "so widening at query time would produce false negatives"
            )
        if w != sk_window(sk):
            sk = _with_window(sk, w)
            raw = None  # re-windowed: stored payload no longer matches
        # seen_within_payloads: the payload goes straight to the
        # broadcast (content-cached), skipping the createDataFrame →
        # collect round trip of ~state-size bytes per probe (round 6)
        payload = raw if raw is not None else sk.to_bytes()
        hits = (
            seen_within_payloads(
                spark, [("", payload)],
                fps.select(F.col("fp").alias("key")), now, only_seen=True,
            )
            .select(F.col("key").alias("fp"))
            .distinct()
        )
        # candidates are the tiny side: broadcast them INTO the ledger
        # scan so history is filtered, never shuffled. max(tick) per fp
        # is the latest retained sighting (re-ingests after decay append
        # a fresh ledger row — and a crash-retried shard may have
        # appended its ledger rows twice, which this max collapses);
        # the window filter mirrors TimingBloomFilter.contains_batch:
        # tick in [now - w + 1, now]. led is never None here: a
        # non-None sketch implies a completed shard, whose lineage row
        # is only written after its ledger append.
        led = ledger_df(spark, checkpoint_dir, exclude_epoch=exclude_epoch)
        assert led is not None, "completed shard without a ledger directory"
        verified = (
            led.join(F.broadcast(hits), "fp")
            .where((F.col("tick") >= F.lit(now - w + 1)) & (F.col("tick") <= F.lit(now)))
            .groupBy("fp")
            .agg(F.max(F.struct("tick", "doc_id")).alias("_best"))
            .select("fp", F.col("_best.doc_id").alias("hist_doc_id"))
        )
    else:
        verified = spark.createDataFrame([], "fp long, hist_doc_id string")

    # ---- intra-shard first occurrence (shard-local shuffle) ----
    firsts = fps.groupBy("fp").agg(F.min("doc_id").alias("_first_doc"))

    return (
        fps.join(firsts, "fp")
        .join(F.broadcast(verified), "fp", "left")
        .select(
            "doc_id", "fp", "tick",
            F.col("hist_doc_id").isNotNull().alias("is_dup_history"),
            (
                F.col("hist_doc_id").isNull()
                & (F.col("doc_id") != F.col("_first_doc"))
            ).alias("is_dup_intra"),
            "hist_doc_id",
        )
    )


def incremental_dedup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int | None = None,
    params=None,
    text_col: str = "text",
    tick_col=None,
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """Dedup ``new_df`` against corpus history AND itself; optionally
    append the survivors to the history state. Returns the annotated
    frame (ANNOTATED_DDL), local-checkpointed so the flags are frozen
    before the state writes (see inline note) and the caller's actions
    never recompute the probe:

    - ``is_dup_history``: an EARLIER ingest retained a doc with the
      same text fingerprint whose tick is within the window —
      text-exact (sketch hits are verified against the ledger, so the
      sketch's FPR never leaks into the flags; sketch misses are
      proof-of-new because TBF/STBF have zero in-window false
      negatives).
    - ``is_dup_intra``: a same-fingerprint doc with a smaller doc_id
      exists in THIS shard (and the fp is not a history dup);
      first-occurrence-wins, ties broken by string doc_id order.
    - ``hist_doc_id``: for history dups, the retained doc that
      suppressed this one — the LATEST in-window sighting, tick ties
      broken by largest doc_id (deterministic).

    ``params``: TimingParams (TBF, default) or ScalingParams (STBF) for
    the membership sketch. Disjoint-key regime note (pipeline.
    build_sketches docstring): dedup guarantees each fp enters the
    sketch exactly once across ALL shards, so for STBF either size
    capacity for the expected corpus-wide distinct count or cap the
    expected shard count via params.max_fill_factor yourself.
    ``window`` narrows the query window below the sketch's configured
    ``window_ticks`` (never above — queries._with_window semantics).
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver (``coalesce``, no shuffle): driver memory
    for the delta is at most ``partitions`` × payload; None keeps the
    survivor frame's own partitioning (_commit_sketch_delta)."""
    from ..params import TimingParams

    if params is None:
        params = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)
    state_path, ledger_path, lineage_path = _paths(checkpoint_dir)

    # one scan of the shard text: the annotated plan references the fp
    # frame three times (probe keys, intra-shard firsts, the annotated
    # left side) and an un-materialized fps would re-scan + re-hash the
    # shard per reference inside the localCheckpoint job below (round
    # 6, guide §2.4 — measured 3 corpus scans in one job). Shard-sized
    # rows only (doc_id, fp, tick ≈ 25 B/doc).
    fps = _shard_fps(new_df, text_col, tick_col, now).localCheckpoint(eager=True)
    ann = annotate_against_history(
        spark, new_df, checkpoint_dir, now,
        window=window, text_col=text_col, tick_col=tick_col,
        exclude_epoch=exclude_epoch, fps_df=fps,
    )
    # localCheckpoint, not persist: the annotated plan READS the ledger
    # path this function is about to APPEND to, and Spark's cache
    # manager invalidates-and-recaches any cached plan whose source
    # path is written — a merely-persisted ann would be silently
    # recomputed against the post-write ledger, flagging every doc as
    # a duplicate of itself (observed). Checkpointing truncates the
    # lineage so the flags are frozen before any state mutation.
    ann = ann.localCheckpoint(eager=True)

    if update_state:
        shard = len(completed_shards(spark, checkpoint_dir))
        survivors = ann.where(~F.col("is_dup_history") & ~F.col("is_dup_intra"))
        # durability order mirrors state.build_resumable: sketch row
        # first, ledger second, lineage LAST — a shard is only complete
        # once everything before its lineage row is durable. Heal any
        # crashed expiry/compaction swap first: appending to a missing
        # primary dir would shadow the _old history (code-review r05)
        _heal_swap(state_path)
        _heal_swap(ledger_path)
        # membership delta over the survivors' fps (per-batch dedup
        # keeps max tick, which for distinct fps is THE tick)
        _commit_sketch_delta(
            state_path, survivors, F.col("fp"), F.col("tick"), DEDUP_SPEC,
            params, shard, partitions,
        )
        survivors.select("fp", "doc_id", "tick", F.lit(shard).cast("int").alias("shard")) \
            .write.mode("append").parquet(ledger_path)
        if pre_lineage_hook is not None:
            # caller-side durable output (e.g. the streaming guard's
            # clean stream) must land BEFORE the lineage marker: once
            # lineage commits, a replay is skipped, so anything written
            # after it would be lost to a crash in between
            pre_lineage_hook(ann)
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_dup_history").cast("long")).alias("h"),
            F.sum(F.col("is_dup_intra").cast("long")).alias("i"),
        ).collect()[0]
        n_new, n_h, n_i = int(counts["n"]), int(counts["h"] or 0), int(counts["i"] or 0)
        meta = {
            "shard": shard,
            "now": int(now),
            "n_docs": n_new,
            "n_dup_history": n_h,
            "n_dup_intra": n_i,
            "n_retained": n_new - n_h - n_i,
            **(meta_extra or {}),
        }
        _write_lineage(lineage_path, meta)
    return ann


class StreamingIngestGuard:
    """Structured-Streaming front door for incremental dedup: a
    foreachBatch sink where every micro-batch is one ingest shard,
    deduped against the checkpointed membership state (history AND
    intra-batch) before its survivors are appended to the history
    checkpoint and — when ``clean_dir`` is given — written out as the
    DEDUPED output stream (the batch's original columns and doc_id
    type, epoch-partitioned).

    Exactly-once under foreachBatch's at-least-once contract, two
    layers deep:
    - a fully-committed epoch that gets REPLAYED after a restart is
      skipped outright (its epoch id is recorded in the shard lineage
      meta — which is the checkpoint's LAST write, strictly after the
      clean_dir output lands via incremental_dedup's pre_lineage_hook,
      so a skipped epoch has by construction already published its
      clean output; code-review r04 found the previous ordering could
      lose an epoch's output to a crash between lineage and clean);
    - a HALF-committed epoch (crash anywhere before lineage) is
      invisible to the loader (lineage-gated recovery) and its re-run
      is self-correcting by the operator's own semantics: any doc
      whose fingerprint already reached the ledger is flagged
      duplicate and retained zero times, so replaying docs can never
      double-enter history. The clean_dir output of a half-committed
      epoch is replaced on re-run (epoch-partitioned dynamic
      overwrite).

    ``now_for_epoch`` maps epoch_id → the dedup clock tick (default
    epoch_id + 1, monotone per trigger); pass your own to tie decay to
    event time.

    Commit path: every family's sketch delta, lineage row and
    compaction row is written from the driver (_commit_row: a pyarrow
    file under a '_' temp name, then an atomic ``os.replace``), so a
    crash mid-commit leaves an invisible temp file, never a torn row,
    and the epoch marker is either fully present or absent. Only the
    ledgers and the clean output are Spark writes. ``partitions`` is
    passed to every family: it caps the sketch-delta partials each
    commit collects to the driver (``coalesce``, no shuffle).

    ``near=True`` (round 5, VERDICT r04 #3) additionally runs
    incremental_near_dup per micro-batch under the SAME epoch
    protocol: near state commits first (its own lineage under near/),
    the exact-dedup lineage row remains the FINAL epoch marker, and
    the clean output keeps only docs that survive BOTH operators.
    Replay of an epoch whose near half committed but whose final
    marker didn't re-runs near with ``exclude_epoch`` set, so a prior
    attempt's own shards are not treated as history (every doc would
    otherwise be flagged a near-dup of itself and the epoch's clean
    output lost); the retry's duplicate near-state rows are harmless —
    merge-all membership semantics — and bounded by compaction/expiry.

    ``expire_every`` (round 5, VERDICT r04 #1) prunes decayed ledger
    rows every N batches via expire_ledgers, keeping checkpoint bytes
    O(retained docs) on long-running windowed ingests.

    ``passages=True`` (round 5) additionally runs incremental_passages
    per micro-batch on the SURVIVOR set (inside the clean-publish
    hook, after exact/near filtering — code-review r05: committing
    passages of a doc that doc-level dedup then drops would mask
    future copies with no published keeper anywhere): surviving docs
    are published with every span that repeats a RETAINED historical
    passage masked out of ``text_col`` (drop-all-on-the-new-side;
    n_tokens_removed appended as ``_passage_tokens_removed``).
    Passage state commits under its own lineage strictly before the
    exact marker, with the same exclude_epoch replay protection;
    window/stride via passage_window / passage_stride, sketch sizing
    via passage_params (capacity ≈ retained distinct window fps).
    Requires ``clean_dir`` (the survivor set is only defined there).

    ``embeddings=True`` (round 5) adds the SEMANTIC granularity: each
    batch's ``emb_vec_col`` vectors (keyed by doc_id) are FLAGGED
    against history by incremental_embedding_dedup, and the PUBLISHED
    survivors' vectors are committed to semantic history inside the
    clean-publish hook (commit_emb_state — flags on the full batch,
    state from survivors only, so no unpublished vector can suppress
    future docs), all strictly before the exact epoch marker.
    ``emb_dim`` is required; geometry via emb_bits/emb_tables, sizing
    via emb_params. Scope note: INTRA-batch semantic duplicates are
    not filtered (same scoping as the operator itself — run
    embedding_near_dup on the batch upstream if needed); both copies
    publish and both vectors enter history.
    """

    def __init__(
        self,
        spark,
        checkpoint_dir: str,
        clean_dir: str | None = None,
        params=None,
        window: int | None = None,
        text_col: str = "text",
        partitions: int | None = None,
        now_for_epoch=None,
        compact_every: int | None = 64,
        near: bool = False,
        near_threshold: float = 0.8,
        near_num_hashes: int = 64,
        near_bands: int = 16,
        near_rows_per_band: int = 4,
        near_params=None,
        expire_every: int | None = None,
        passages: bool = False,
        passage_window: int = 50,
        passage_stride: int = 1,
        passage_params=None,
        embeddings: bool = False,
        emb_dim: int | None = None,
        emb_threshold: float = 0.9,
        emb_bits: int = 12,
        emb_tables: int = 8,
        emb_vec_col: str = "embedding",
        emb_params=None,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.clean_dir = clean_dir
        self.params = params
        self.window = window
        self.text_col = text_col
        self.partitions = partitions
        self.now_for_epoch = now_for_epoch or (lambda e: int(e) + 1)
        # every batch reloads-and-merges the sketch rows of all shards
        # (O(shards × payload)); periodic compaction folds them into
        # one shard=-1 row so per-trigger cost stays O(compact_every)
        # instead of growing forever (code-review r04)
        self.compact_every = compact_every
        self.near = near
        self.near_threshold = near_threshold
        self.near_num_hashes = near_num_hashes
        self.near_bands = near_bands
        self.near_rows_per_band = near_rows_per_band
        self.near_params = near_params
        self.expire_every = expire_every
        if passages and clean_dir is None:
            raise ValueError(
                "passages=True requires clean_dir: passage history is "
                "committed for the published survivor set only"
            )
        self.passages = passages
        self.passage_window = passage_window
        self.passage_stride = passage_stride
        self.passage_params = passage_params
        if embeddings and emb_dim is None:
            raise ValueError("embeddings=True requires emb_dim")
        if embeddings and clean_dir is None:
            # semantic state is committed only inside publish_clean
            # (survivor-only rule); without clean_dir the commit never
            # runs, emb history never grows, and the per-batch probe
            # burns compute while is_emb_dup_history stays false — a
            # silent no-op (ADVICE r05 #1; mirrors the passages guard)
            raise ValueError(
                "embeddings=True requires clean_dir: semantic history is "
                "committed for the published survivor set only"
            )
        self.embeddings = embeddings
        self.emb_dim = emb_dim
        self.emb_threshold = emb_threshold
        self.emb_bits = emb_bits
        self.emb_tables = emb_tables
        self.emb_vec_col = emb_vec_col
        self.emb_params = emb_params
        self._batches_done = 0

    def process_batch(self, batch_df, epoch_id: int) -> None:
        """foreachBatch body; callable directly for batch catch-up.
        Epoch ids are the dedup key for replay skipping, so don't mix
        hand-picked ids with a live stream's own numbering on the same
        checkpoint — a stream restarted with a fresh STREAM checkpoint
        restarts epochs at 0 and would skip batches whose ids a manual
        call already burned (observed in a verify drive)."""
        done = completed_shards(self.spark, self.checkpoint_dir)
        if any(m.get("epoch") == int(epoch_id) for m in done):
            return  # fully committed (incl. clean output — see class doc)
        ep, now = int(epoch_id), self.now_for_epoch(epoch_id)

        emb_ann = None
        if self.embeddings:
            # FLAGS ONLY here (update_state=False): semantic state is
            # committed inside publish_clean on the PUBLISHED survivor
            # set, so a doc dropped by exact/near dedup can never
            # leave its vector in history as an unpublished keeper
            # that suppresses future docs (code-review r05 fifth
            # pass — the passages survivor rule, applied here)
            emb_ann = incremental_embedding_dedup(
                self.spark, batch_df,
                self.checkpoint_dir, now=now, dim=self.emb_dim,
                threshold=self.emb_threshold, bits=self.emb_bits,
                tables=self.emb_tables, window=self.window,
                params=self.emb_params, partitions=self.partitions,
                vec_col=self.emb_vec_col, id_col="doc_id",
                update_state=False, exclude_epoch=ep,
            )

        near_ann = None
        if self.near:
            # near state commits under its own lineage, before the
            # exact lineage row below (the epoch's final marker). On a
            # crash-replay, exclude_epoch keeps a prior attempt's
            # committed near shards out of the history this attempt
            # probes (see class doc).
            near_ann = incremental_near_dup(
                self.spark, batch_df, self.checkpoint_dir, now=now,
                threshold=self.near_threshold,
                num_hashes=self.near_num_hashes,
                bands=self.near_bands,
                rows_per_band=self.near_rows_per_band,
                window=self.window, params=self.near_params,
                text_col=self.text_col, partitions=self.partitions,
                meta_extra={"epoch": ep}, exclude_epoch=ep,
            )

        def publish_clean(ann):
            if self.clean_dir is None:
                return
            keep = ann.where(
                ~F.col("is_dup_history") & ~F.col("is_dup_intra")
            ).select(F.col("doc_id").alias("_k"))
            if near_ann is not None:
                near_keep = near_ann.where(
                    ~F.col("is_near_dup_history") & ~F.col("is_near_dup_intra")
                ).select(F.col("doc_id").alias("_k"))
                keep = keep.join(F.broadcast(near_keep), "_k", "left_semi")
            if emb_ann is not None:
                emb_keep = emb_ann.where(
                    ~F.col("is_emb_dup_history")
                ).select(F.col("vec_id").alias("_k"))
                keep = keep.join(F.broadcast(emb_keep), "_k", "left_semi")
            # survivors keep the batch's ORIGINAL columns and doc_id
            # type — the join key is a derived string column, dropped
            # after the semi-join (code-review r04: the old path
            # silently retyped doc_id to string)
            out = (
                batch_df.withColumn("_k", F.col("doc_id").cast("string"))
                .join(F.broadcast(keep), "_k", "left_semi")
                .drop("_k")
                .withColumn("_epoch", F.lit(int(epoch_id)))
            )
            if self.embeddings:
                out = out.localCheckpoint(eager=True)
                # survivor-only semantic state commit (flags were
                # computed on the full batch above); no probe happens
                # here, so replay safety needs no epoch exclusion —
                # but the shard is epoch-tagged for it anyway
                commit_emb_state(
                    self.spark, out, self.checkpoint_dir, now=now,
                    dim=self.emb_dim, bits=self.emb_bits,
                    tables=self.emb_tables, params=self.emb_params,
                    vec_col=self.emb_vec_col, id_col="doc_id",
                    partitions=self.partitions,
                    meta_extra={"epoch": ep},
                )
            if self.passages:
                # frozen once: the survivor frame feeds the passage
                # kernel AND the mask join-back (code-review r05 —
                # an uncached self-referential join would re-execute
                # the batch scan + both semi-joins)
                out = out.localCheckpoint(eager=True)
                # passage state commits HERE — survivors only, so
                # every retained passage has a published keeper; own
                # lineage lands strictly before the exact marker
                pann = incremental_passages(
                    self.spark, out, self.checkpoint_dir, now=now,
                    window=self.passage_window, stride=self.passage_stride,
                    query_window=self.window, params=self.passage_params,
                    text_col=self.text_col, partitions=self.partitions,
                    meta_extra={"epoch": ep}, exclude_epoch=ep,
                )
                # annotation reused — no second kernel pass; the
                # collision-proof temp name keeps the original-columns
                # contract even if the batch already has text_clean
                masked = mask_against_history(
                    self.spark, out, window=self.passage_window,
                    text_col=self.text_col, ann=pann,
                ).select(
                    F.col("doc_id").cast("string").alias("_k"),
                    F.col("text_clean").alias("_fgs_text_clean"),
                    F.col("n_tokens_removed").alias("_passage_tokens_removed"),
                )
                out = (
                    out.withColumn("_k", F.col("doc_id").cast("string"))
                    .join(masked, "_k", "left")
                    .withColumn(self.text_col, F.col("_fgs_text_clean"))
                    .drop("_k", "_fgs_text_clean")
                )
            # epoch-partitioned dynamic overwrite: a re-run of a
            # half-committed epoch replaces exactly its own partition
            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("_epoch").parquet(self.clean_dir)
            if self.passages:
                # only AFTER the write: the mask join consumes the
                # checkpointed annotation lazily, and unpersisting a
                # localCheckpoint before its consumer runs would lose
                # the truncated lineage's only copy
                pann.unpersist()

        ann = incremental_dedup(
            self.spark,
            batch_df,
            self.checkpoint_dir,
            now=now,
            window=self.window,
            params=self.params,
            text_col=self.text_col,
            partitions=self.partitions,
            meta_extra={"epoch": ep},
            pre_lineage_hook=publish_clean,
            exclude_epoch=ep,
        )
        ann.unpersist()
        if near_ann is not None:
            near_ann.unpersist()
        if emb_ann is not None:
            emb_ann.unpersist()
        self._batches_done += 1
        if self.compact_every and self._batches_done % self.compact_every == 0:
            compact_dedup_checkpoint(self.spark, self.checkpoint_dir)
            if self.near:
                compact_near_checkpoint(self.spark, self.checkpoint_dir)
            if self.passages:
                compact_passages_checkpoint(self.spark, self.checkpoint_dir)
            if self.embeddings:
                compact_emb_checkpoint(self.spark, self.checkpoint_dir)
        if self.expire_every and self._batches_done % self.expire_every == 0:
            expire_ledgers(self.spark, self.checkpoint_dir, now=now)

    def start(self, input_path: str, schema, trigger_seconds: int | None = 2,
              stream_checkpoint: str | None = None):
        """Attach to a parquet-directory stream and return the
        StreamingQuery. ``trigger_seconds=None`` uses availableNow
        (drain what exists, then stop — deterministic for tests and
        batch-catchup runs); ``stream_checkpoint`` defaults to
        <checkpoint_dir>/_stream."""
        stream = self.spark.readStream.schema(schema).parquet(input_path)
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation",
            stream_checkpoint or os.path.join(self.checkpoint_dir, "_stream"),
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()


# --------------------------------------------------------------------
# incremental NEAR-dup: cross-shard MinHash-LSH against checkpointed
# state (round 4 — rounds out the exact-fp guard above)
# --------------------------------------------------------------------

NEAR_SPEC = "near_dup_band"
BAND_LEDGER_DDL = "bkey long, doc_id string, tick long, shard int"
SIG_LEDGER_DDL = "doc_id string, sig array<long>, tick long, shard int"
NEAR_ANNOTATED_DDL = (
    "doc_id string, is_near_dup_history boolean, is_near_dup_intra boolean, "
    "hist_doc_id string, est_jaccard double"
)


def _near_paths(checkpoint_dir: str) -> tuple[str, str, str, str]:
    """All near-dup state lives under <checkpoint_dir>/near — its OWN
    sketch_state and lineage, fully disjoint from incremental_dedup's
    (code-review r04: a shared sketch_state dir meant exact-dedup
    compaction would atomically replace the directory and destroy the
    band sketch; shared lineage let one operator's committed shard
    number validate the other's half-committed orphan rows)."""
    base = os.path.join(checkpoint_dir, "near")
    return (
        os.path.join(base, "sketch_state"),
        os.path.join(base, "band_ledger"),
        os.path.join(base, "sig_ledger"),
        os.path.join(base, "lineage"),
    )


def near_history_matches(
    spark,
    banded: DataFrame,
    sig: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float,
    num_hashes: int,
    window: int | None = None,
    exclude_epoch=None,
) -> DataFrame:
    """The LAZY history-match plan of incremental_near_dup — exposed,
    like annotate_against_history, so tools/explain_plans.py can gate
    the REAL operator's physical plan (VERDICT r04 "What's wrong" #1).

    Inputs: ``banded`` = the new shard's (doc_id, bkey) band keys,
    ``sig`` = its (doc_id, sig) minhash signatures. Output: one row per
    new doc with a retained in-window partner whose signature-match
    fraction >= threshold — (doc_id, hist_doc_id, est_jaccard), best
    partner per doc.

    Every join is EXPLICITLY broadcast on the shard side so history is
    filtered in place and never shuffled (nor chosen as a build side by
    a mis-estimating optimizer):
    - sketch hits (bounded by shard keys × hit rate) broadcast into
      the band-ledger scan;
    - candidate partner ids broadcast-semi into the sig-ledger scan;
    - the candidate pair table and fetched partner sigs broadcast into
      the shard's own signature frame.
    The only exchanges left are distinct/groupBy over SHARD-sized
    candidate rows."""
    from ..queries import _with_window, seen_within_payloads, sk_window

    empty = spark.createDataFrame(
        [], "doc_id string, hist_doc_id string, est_jaccard double"
    )
    sk, raw = _load_near_state(
        spark, checkpoint_dir, exclude_epoch=exclude_epoch, with_raw=True
    )
    if sk is None:
        return empty
    w = window if window is not None else sk_window(sk)
    if w > sk_window(sk):
        raise ValueError(
            f"window {w} exceeds the sketch's window_ticks {sk_window(sk)}"
        )
    if w != sk_window(sk):
        sk = _with_window(sk, w)
        raw = None  # re-windowed: stored payload no longer matches
    hits = (
        seen_within_payloads(
            spark, [("", raw if raw is not None else sk.to_bytes())],
            banded.select(F.col("bkey").alias("key")), now, only_seen=True,
        )
        .select(F.col("key").alias("bkey"))
        .distinct()
    )
    done = _done_shards(_near_completed(spark, checkpoint_dir), exclude_epoch)
    band_path, sig_path = _near_paths(checkpoint_dir)[1:3]
    band_raw = _read_swap(spark, band_path, BAND_LEDGER_DDL)
    sig_raw = _read_swap(spark, sig_path, SIG_LEDGER_DDL)
    assert band_raw is not None and sig_raw is not None, (
        "completed near shard without its ledgers"
    )
    band_led = band_raw.where(
        (F.col("shard").isin(done))
        & (F.col("tick") >= F.lit(now - w + 1)) & (F.col("tick") <= F.lit(now))
    )
    # candidate pairs: new docs sharing a hit band key with a retained
    # doc. The shard side (banded ⋈ hits — bounded by shard size × hit
    # rate) is broadcast INTO the band-ledger scan, so the O(retained ×
    # bands) ledger is the streamed side and never shuffles
    probe = banded.join(F.broadcast(hits), "bkey")
    cand = (
        band_led.select("bkey", F.col("doc_id").alias("hist_doc_id"))
        .join(F.broadcast(probe), "bkey")
        .select("doc_id", "hist_doc_id")
        .distinct()
    )
    # verify with the minhash Jaccard estimate: fetch the candidate
    # partners' signatures — candidate ids broadcast-semi into the sig
    # ledger's columnar scan, which likewise never shuffles
    hist_ids = cand.select(F.col("hist_doc_id").alias("doc_id")).distinct()
    sig_led = (
        sig_raw
        .where(F.col("shard").isin(done))
        .join(F.broadcast(hist_ids), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("hist_doc_id"), F.col("sig").alias("hsig"))
    )
    est = F.aggregate(
        F.zip_with("sig", "hsig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return (
        sig.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(sig_led), "hist_doc_id")
        .select("doc_id", "hist_doc_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(F.max(F.struct("est_jaccard", "hist_doc_id")).alias("_best"))
        .select(
            "doc_id",
            F.col("_best.hist_doc_id").alias("hist_doc_id"),
            F.col("_best.est_jaccard").alias("est_jaccard"),
        )
    )


def incremental_near_dup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    window: int | None = None,
    params=None,
    text_col: str = "text",
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """NEAR-duplicate dedup of a new ingest shard against checkpointed
    history — the MinHash-LSH analogue of incremental_dedup, and the
    same never-re-join-history shape at 100 TB:

    - history state = a decaying TBF over LSH BAND KEYS (a doc
      contributes ``bands`` keys) + a band ledger (bkey → retained
      doc, 30 B/key) + a sig ledger (doc → its num_hashes minhashes,
      ~0.5 KB/doc). All three are O(retained docs), independent of
      corpus text size.
    - a new shard's band keys probe the broadcast sketch: zero
      in-window false negatives ⇒ a doc NONE of whose band keys hit
      provably shares no band with retained history (exactly the docs
      a batch LSH self-join would never pair). Hit keys — true shared
      bands plus the sketch's FPR — fetch candidate partners from the
      band ledger, and candidate pairs are verified by the minhash
      Jaccard ESTIMATE (matching-signature fraction; the same
      estimator the batch chain verifies with before exact Jaccard).
      An exact text clone has an identical signature, so clones are
      flagged with certainty (est_jaccard = 1) — what the oracle pins.
    - survivors append their band keys, sigs, and lineage (same
      sketch-first/ledgers/lineage-LAST recovery protocol; replays
      self-correct exactly as in incremental_dedup).

    Flags: is_near_dup_history (some retained in-window doc's
    signature matches ≥ threshold), is_near_dup_intra (a same-shard
    doc with smaller doc_id matches ≥ threshold and the doc is not
    already a history dup), hist_doc_id = best-matching historical doc
    (max est_jaccard, ties → max doc_id), est_jaccard = that match's
    estimate. A checkpoint_dir may be shared with incremental_dedup:
    ALL near-dup state (including its lineage) lives under
    <checkpoint_dir>/near, fully disjoint from the exact-dedup state,
    so neither operator's compaction, shard numbering, or recovery can
    touch the other's (code-review r04).

    ``meta_extra`` / ``pre_lineage_hook`` / ``exclude_epoch`` mirror
    incremental_dedup exactly (epoch tagging, caller-durable output
    strictly before the lineage marker, and same-epoch shard exclusion
    on multi-operator replay — see StreamingIngestGuard).
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver, as in incremental_dedup."""
    from ..params import TimingParams
    from .dedup import banded_signatures, minhash_signatures

    if params is None:
        params = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)
    state_path, band_path, sig_path, lineage_path = _near_paths(checkpoint_dir)

    src = new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.lit("").alias("source"),
    )
    sig = minhash_signatures(src, num_hashes=num_hashes).select("doc_id", "sig")
    sig = sig.localCheckpoint(eager=True)  # one signature pass, reused below
    banded = banded_signatures(sig, bands, rows_per_band).select(
        "doc_id", F.xxhash64("band", "bucket").alias("bkey")
    )

    # ---- history probe over band keys (lazy plan: see
    # near_history_matches — explicitly broadcast shard-side, gated by
    # tools/explain_plans.py check 13) ----
    hist_matches = near_history_matches(
        spark, banded, sig, checkpoint_dir, now,
        threshold=threshold, num_hashes=num_hashes, window=window,
        exclude_epoch=exclude_epoch,
    )

    # ---- intra-shard near-dups (batch LSH within the new shard) ----
    from .dedup import minhash_lsh_candidates

    intra_cand = minhash_lsh_candidates(
        sig.select("doc_id", "sig"), bands, rows_per_band
    )
    intra_est = F.aggregate(
        F.zip_with("sa", "sb", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    # chain-safe keep-one (code-review r04: pairwise "larger id
    # loses" could delete BOTH ends of a chain): verified pairs form
    # transitive clusters via connected components — the same
    # clustering the batch pipeline uses — and each cluster retains
    # exactly its min doc_id. One-hop-chain caveat, identical to the
    # batch keep-cluster-min semantics: if the cluster min is itself a
    # history dup, the cluster is treated as covered through it.
    from .dedup import connected_components

    intra_pairs = (
        intra_cand
        .join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
        .where(intra_est >= threshold)
        .select("doc_a", "doc_b")
    ).localCheckpoint(eager=True)
    # connected_components short-circuits on an empty pair graph
    # (round 5, VERDICT r04 advisory #2), so no separate probe here
    intra = (
        connected_components(intra_pairs)
        .where(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
        .withColumn("_intra", F.lit(True))
    )

    ann = (
        sig.select("doc_id")
        .join(hist_matches, "doc_id", "left")
        .join(intra, "doc_id", "left")
        .select(
            "doc_id",
            F.col("hist_doc_id").isNotNull().alias("is_near_dup_history"),
            (
                F.col("hist_doc_id").isNull() & F.col("_intra").isNotNull()
            ).alias("is_near_dup_intra"),
            "hist_doc_id",
            "est_jaccard",
        )
    ).localCheckpoint(eager=True)

    if update_state:
        shard = len(_near_completed(spark, checkpoint_dir))
        keep = ann.where(
            ~F.col("is_near_dup_history") & ~F.col("is_near_dup_intra")
        ).select("doc_id")
        kept_banded = banded.join(F.broadcast(keep), "doc_id")
        for _pth in (state_path, band_path, sig_path):
            _heal_swap(_pth)  # see incremental_dedup (code-review r05)
        _commit_sketch_delta(
            state_path, kept_banded, F.col("bkey"), F.lit(now), NEAR_SPEC,
            params, shard, partitions,
        )
        kept_banded.select(
            "bkey", "doc_id", F.lit(now).cast("long").alias("tick"),
            F.lit(shard).cast("int").alias("shard"),
        ).write.mode("append").parquet(band_path)
        sig.join(F.broadcast(keep), "doc_id").select(
            "doc_id", "sig", F.lit(now).cast("long").alias("tick"),
            F.lit(shard).cast("int").alias("shard"),
        ).write.mode("append").parquet(sig_path)
        if pre_lineage_hook is not None:
            # caller-durable output must land BEFORE the lineage
            # marker (same contract as incremental_dedup)
            pre_lineage_hook(ann)
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_near_dup_history").cast("long")).alias("h"),
            F.sum(F.col("is_near_dup_intra").cast("long")).alias("i"),
        ).collect()[0]
        n, h, i = int(counts["n"]), int(counts["h"] or 0), int(counts["i"] or 0)
        meta = {
            "shard": shard, "now": int(now), "kind": "near_dup",
            "n_docs": n, "n_near_dup_history": h, "n_near_dup_intra": i,
            "n_retained": n - h - i,
            **(meta_extra or {}),
        }
        _write_lineage(lineage_path, meta)
    return ann


def _near_completed(spark, checkpoint_dir: str) -> list[dict]:
    """Near-dup lineage metadata (its OWN lineage dir under near/)."""
    return _completed_metas(spark, _near_paths(checkpoint_dir)[3])


def _load_near_state(spark, checkpoint_dir: str, exclude_epoch=None,
                     with_raw: bool = False):
    """Merged band-key membership sketch over completed shards (same
    lineage-gated, merge-all recovery + same-epoch-exclusion rules as
    load_dedup_state — one implementation, _load_sketch_state)."""
    done = _done_shards(_near_completed(spark, checkpoint_dir), exclude_epoch)
    return _load_sketch_state(
        spark, _near_paths(checkpoint_dir)[0], done, NEAR_SPEC, with_raw=with_raw
    )


def compact_near_checkpoint(spark, checkpoint_dir: str):
    """Near-dup analogue of compact_dedup_checkpoint: fold every
    completed near shard's band-key sketch rows into ONE shard=-1 row
    (the row _load_near_state already accepted but nothing wrote —
    VERDICT r04 "What's missing" #1). Without it a long-running
    near-dup ingest re-merges O(shards × payload) sketch rows on every
    probe. Ledgers and lineage are untouched (columnar-pushdown reads);
    expire_ledgers handles their growth. Safe and idempotent any
    time."""
    state_path = _near_paths(checkpoint_dir)[0]
    return _compact_sketch_state(
        state_path, _load_near_state(spark, checkpoint_dir), NEAR_SPEC
    )


# --------------------------------------------------------------------
# incremental PASSAGE-level dedup (round 5): repeated-passage masking
# of a new shard against checkpointed history — composes the rolling
# window-fingerprint kernel (dedup.passage_fingerprints) with the
# sketch+ledger incremental machinery above, completing the family:
# exact doc (incremental_dedup) / near doc (incremental_near_dup) /
# sub-document passage (this).
# --------------------------------------------------------------------

PASSAGE_SPEC = "passage_fp"
PASSAGE_LEDGER_DDL = "fp long, keep_doc string, keep_pos int, tick long, shard int"
PASSAGE_ANNOTATED_DDL = (
    "doc_id string, n_windows int, n_hist_windows int, hist_positions array<int>"
)


def _passage_paths(checkpoint_dir: str) -> tuple[str, str, str]:
    """All passage state lives under <checkpoint_dir>/passages — its
    own sketch_state, fp ledger, and lineage, disjoint from both the
    exact-dedup and near-dup state (the namespacing rule code-review
    r04 established: no operator's compaction/recovery/shard numbering
    may touch another's)."""
    base = os.path.join(checkpoint_dir, "passages")
    return (
        os.path.join(base, "sketch_state"),
        os.path.join(base, "fp_ledger"),
        os.path.join(base, "lineage"),
    )


def _passage_completed(spark, checkpoint_dir: str) -> list[dict]:
    return _completed_metas(spark, _passage_paths(checkpoint_dir)[2])


def _load_passage_state(spark, checkpoint_dir: str, exclude_epoch=None,
                        with_raw: bool = False):
    """Merged window-fp membership sketch over completed passage
    shards (lineage-gated, merge-all, same-epoch-exclusion — the
    recovery rules of load_dedup_state, one implementation)."""
    done = _done_shards(_passage_completed(spark, checkpoint_dir), exclude_epoch)
    return _load_sketch_state(
        spark, _passage_paths(checkpoint_dir)[0], done, PASSAGE_SPEC,
        with_raw=with_raw,
    )


def compact_passages_checkpoint(spark, checkpoint_dir: str):
    """Fold completed passage shards' sketch rows into one shard=-1
    row (same protocol as compact_dedup_checkpoint)."""
    state_path = _passage_paths(checkpoint_dir)[0]
    return _compact_sketch_state(
        state_path, _load_passage_state(spark, checkpoint_dir), PASSAGE_SPEC
    )


def incremental_passages(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int = 50,
    stride: int = 1,
    query_window: int | None = None,
    params=None,
    text_col: str = "text",
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """Flag every ``window``-token span of a new ingest shard whose
    fingerprint matches a passage RETAINED in checkpointed history —
    without re-joining history text. Returns one row per doc
    (PASSAGE_ANNOTATED_DDL): total window count, historical-window
    count, and the positions of historical spans (ready for masking —
    see mask_against_history). Docs shorter than ``window`` emit
    (0, 0, []) — whole-doc dedup owns that regime.

    State = a decaying membership sketch over 64-bit rolling window
    fingerprints + an fp ledger ``(fp, keep_doc, keep_pos, tick,
    shard)`` recording each retained passage's first-seen provenance.
    A shard's DISTINCT fps probe the broadcast sketch (zero in-window
    FN ⇒ a missed fp is provably a new passage); only hits verify
    against the ledger via broadcast join, so the sketch's FPR costs
    ledger-scan work, never a false mask — the flags are
    fp-exact, the same passage-identity standard the batch
    repeated_passages operator uses. Decay follows the library
    primitive: suppressed spans do NOT refresh history's tick, so a
    passage re-enters with its next occurrence after the window
    passes.

    State sizing: the ledger holds one ~30 B row per retained DISTINCT
    window fingerprint — O(tokens/stride) for novel text, the honest
    price of passage-granular history (raise ``stride`` to trade
    granularity for state; expiry prunes decayed rows). Size
    ``params.capacity`` for the expected retained distinct-fp count,
    not the doc count. Intra-shard repetition is deliberately out of
    scope — run the batch operator (mask_repeated_passages) on the
    shard first, then this against history.
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver, as in incremental_dedup."""
    from ..params import TimingParams
    from ..queries import _with_window, seen_within_payloads, sk_window
    from .dedup import passage_fingerprints

    if params is None:
        params = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)
    state_path, ledger_path, lineage_path = _passage_paths(checkpoint_dir)

    src = new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    # ONE kernel pass (rollup + positions), frozen so the probe,
    # verify, annotate, and state-update consumers never recompute it
    wf = passage_fingerprints(
        src, window=window, stride=stride, with_positions=True
    ).localCheckpoint(eager=True)

    sk, raw = _load_passage_state(
        spark, checkpoint_dir, exclude_epoch=exclude_epoch, with_raw=True
    )
    if sk is not None:
        w = query_window if query_window is not None else sk_window(sk)
        if w > sk_window(sk):
            raise ValueError(
                f"window {w} exceeds the sketch's window_ticks {sk_window(sk)}"
            )
        if w != sk_window(sk):
            sk = _with_window(sk, w)
            raw = None  # re-windowed: stored payload no longer matches
        hits = (
            seen_within_payloads(
                spark, [("", raw if raw is not None else sk.to_bytes())],
                wf.select(F.col("fp").alias("key")).distinct(), now, only_seen=True,
            )
            .select(F.col("key").alias("fp"))
            .distinct()
        )
        done = _done_shards(_passage_completed(spark, checkpoint_dir), exclude_epoch)
        led = _read_swap(spark, ledger_path, PASSAGE_LEDGER_DDL)
        assert led is not None, "completed passage shard without a ledger"
        # hit fps (tiny) broadcast into the ledger scan — history
        # filtered in place, never shuffled (the check-12/13 shape)
        verified = (
            led.where(
                (F.col("shard").isin(done))
                & (F.col("tick") >= F.lit(now - w + 1))
                & (F.col("tick") <= F.lit(now))
            )
            .join(hits, "fp")
            .select("fp")
            .distinct()
        )
        # NO forced broadcast anywhere in this operator: hits/verified
        # are fp-cardinality (~shard tokens/stride in the worst
        # re-crawl case), unlike the doc-cardinality sets the exact/
        # near operators broadcast — AQE broadcast-selects the common
        # small case and falls back to an fp-keyed shuffle otherwise
        # (code-review r05)
    else:
        verified = spark.createDataFrame([], "fp long")

    perdoc = wf.groupBy("doc_id").agg(
        F.sum(F.size("pos_list")).cast("int").alias("n_windows")
    )
    histdoc = (
        wf.join(verified, "fp")
        .groupBy("doc_id")
        .agg(
            F.sum(F.size("pos_list")).cast("int").alias("n_hist_windows"),
            F.sort_array(F.flatten(F.collect_list("pos_list"))).alias("hist_positions"),
        )
    )
    ann = (
        src.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .join(histdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_hist_windows", F.lit(0)).alias("n_hist_windows"),
            F.coalesce("hist_positions", F.array().cast("array<int>")).alias(
                "hist_positions"
            ),
        )
    ).localCheckpoint(eager=True)

    if update_state:
        shard = len(_passage_completed(spark, checkpoint_dir))
        # only NEW fps enter history (suppressed spans don't refresh
        # ticks — decay semantics), and only via OCCURRENCES whose span
        # does not overlap a historical span of the same doc: a
        # boundary window straddling a masked region would otherwise be
        # recorded as "retained" while mask_against_history drops most
        # of its tokens, so a later identical span would be masked with
        # NO surviving copy anywhere in the clean corpus (code-review
        # r05 #4). Spans [p, p+W) and [q, q+W) overlap iff |p-q| < W.
        # Conservative by construction for callers who don't mask:
        # an unrecorded fp merely re-enters on its next sighting.
        wf_clean = (
            wf.join(
                ann.select("doc_id", F.col("hist_positions").alias("_hp")),
                "doc_id",
            )
            .select(
                "doc_id",
                "fp",
                F.filter(
                    "pos_list",
                    lambda pp: ~F.exists(
                        F.col("_hp"),
                        lambda q: F.abs(pp - q) < F.lit(int(window)),
                    ),
                ).alias("pos_list"),
            )
            .where(F.size("pos_list") > 0)
        )
        # keeper = the shard-global first surviving occurrence
        # (min doc_id, then min pos), deterministic
        newfp = (
            wf_clean.join(verified, "fp", "left_anti")
            .groupBy("fp")
            .agg(
                F.min(
                    F.struct(
                        F.col("doc_id").alias("d"),
                        F.col("pos_list")[0].alias("p"),
                    )
                ).alias("_k")
            )
            .select(
                "fp",
                F.col("_k.d").alias("keep_doc"),
                F.col("_k.p").alias("keep_pos"),
            )
            .localCheckpoint(eager=True)
        )
        _heal_swap(state_path)
        _heal_swap(ledger_path)  # see incremental_dedup (code-review r05)
        _commit_sketch_delta(
            state_path, newfp, F.col("fp"), F.lit(now), PASSAGE_SPEC,
            params, shard, partitions,
        )
        newfp.select(
            "fp", "keep_doc", "keep_pos",
            F.lit(now).cast("long").alias("tick"),
            F.lit(shard).cast("int").alias("shard"),
        ).write.mode("append").parquet(ledger_path)
        if pre_lineage_hook is not None:
            # caller-durable output (e.g. the masked clean shard) must
            # land BEFORE the lineage marker — same exactly-once
            # contract as incremental_dedup; without it a crash after
            # lineage but before the caller persisted the masked text
            # would re-run against history that now contains this very
            # shard and mask the entire shard away (code-review r05 #2)
            pre_lineage_hook(ann)
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum("n_windows").alias("w"),
            F.sum("n_hist_windows").alias("h"),
        ).collect()[0]
        meta = {
            "shard": shard, "now": int(now), "kind": "passages",
            "n_docs": int(counts["n"]),
            "n_windows": int(counts["w"] or 0),
            "n_hist_windows": int(counts["h"] or 0),
            **(meta_extra or {}),
        }
        _write_lineage(lineage_path, meta)
    return ann


def mask_against_history(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str | None = None,
    now: int | None = None,
    window: int = 50,
    stride: int = 1,
    text_col: str = "text",
    ann: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Masking front end of incremental_passages: drop every span of
    the new shard that repeats a retained historical passage (history
    keeps its copy — strict drop-ALL-on-the-new-side, the incremental
    complement of mask_repeated_passages' keep-one-corpus-wide).
    Returns (doc_id [original type], text_clean, n_tokens_removed).

    Pass ``ann`` (a frame already returned by incremental_passages for
    the SAME new_df/window) to reuse its annotation instead of paying
    a second kernel+probe pass; otherwise this calls
    incremental_passages itself with ``update_state=False`` by
    DEFAULT — masking that also commits state in one call is the
    exactly-once trap (a crash before the caller persists the masked
    text makes the re-run see the shard's own fps as history and mask
    everything away; code-review r05 #2). To commit state atomically
    with a durable masked output, call incremental_passages with a
    ``pre_lineage_hook`` that persists
    ``mask_against_history(..., ann=hook_arg)``."""
    if ann is None:
        kwargs.setdefault("update_state", False)
        ann = incremental_passages(
            spark, new_df, checkpoint_dir, now,
            window=window, stride=stride, text_col=text_col, **kwargs,
        )
    drops = ann.where(F.size("hist_positions") > 0).select(
        F.col("doc_id").alias("_k"), F.col("hist_positions").alias("_drops")
    )
    words = F.split(F.col(text_col), " ")
    # no-drops branch hoisted out of the per-element lambda (round 6,
    # same reasoning as mask_repeated_passages): docs with nothing to
    # mask skip the per-token filter entirely
    kept = F.when(F.col("_drops").isNull(), F.col("_words")).otherwise(
        F.filter(
            F.col("_words"),
            lambda w, i: ~F.exists(
                F.col("_drops"), lambda p: (i >= p) & (i < p + F.lit(window))
            ),
        )
    )
    return (
        new_df.withColumn("_k", F.col("doc_id").cast("string"))
        .join(drops, "_k", "left")  # shard-sized both sides; no broadcast
        # hint — a boilerplate-heavy shard's drop table can be wide
        .withColumn("_words", words)
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.array_join("_kept", " ").alias("text_clean"),
            (F.size("_words") - F.size("_kept")).cast("int").alias("n_tokens_removed"),
        )
    )


# --------------------------------------------------------------------
# incremental EMBEDDING-level dedup (round 5): semantic near-duplicate
# detection of a new shard against checkpointed history — the fourth
# granularity of the incremental family (exact doc / near doc /
# passage / semantic), reusing similarity.hyperplane_buckets'
# deterministic seeded planes so bucket keys agree across shards.
# --------------------------------------------------------------------

EMB_SPEC = "emb_dup_bucket"
EMB_BUCKET_LEDGER_DDL = "bkey long, vec_id string, tick long, shard int"
EMB_VEC_LEDGER_DDL = "vec_id string, embedding array<float>, tick long, shard int"
EMB_ANNOTATED_DDL = (
    "vec_id string, is_emb_dup_history boolean, hist_vec_id string, cosine double"
)


def _emb_paths(checkpoint_dir: str) -> tuple[str, str, str, str]:
    """All embedding-dedup state lives under <checkpoint_dir>/emb —
    its own sketch_state, bucket/vec ledgers, and lineage (operator
    namespacing rule, code-review r04)."""
    base = os.path.join(checkpoint_dir, "emb")
    return (
        os.path.join(base, "sketch_state"),
        os.path.join(base, "bucket_ledger"),
        os.path.join(base, "vec_ledger"),
        os.path.join(base, "lineage"),
    )


def _emb_completed(spark, checkpoint_dir: str) -> list[dict]:
    return _completed_metas(spark, _emb_paths(checkpoint_dir)[3])


def _load_emb_state(spark, checkpoint_dir: str, exclude_epoch=None,
                    with_raw: bool = False):
    done = _done_shards(_emb_completed(spark, checkpoint_dir), exclude_epoch)
    return _load_sketch_state(
        spark, _emb_paths(checkpoint_dir)[0], done, EMB_SPEC, with_raw=with_raw
    )


def compact_emb_checkpoint(spark, checkpoint_dir: str):
    """Fold completed embedding shards' sketch rows into one shard=-1
    row (same protocol as compact_dedup_checkpoint)."""
    state_path = _emb_paths(checkpoint_dir)[0]
    return _compact_sketch_state(
        state_path, _load_emb_state(spark, checkpoint_dir), EMB_SPEC
    )


def _emb_planes(dim: int, bits: int, tables: int, seed_base: int = 101):
    """The stacked (tables·bits, dim) hyperplane matrix — the
    per-table plane sets (identical construction to
    similarity.hyperplane_buckets, seed_base + 13·t) concatenated so
    one matmul yields every table's projections. Pure function of the
    seed: the key kernel and the round-6 verify kernel both call this,
    so bucket keys can never drift between them."""
    import numpy as np

    from ..hashing import splitmix64

    return np.concatenate([
        np.where(
            (splitmix64(
                np.arange(bits * dim, dtype=np.uint64)
                + np.uint64((seed_base + 13 * t) * 0x9E37)
            ) & np.uint64(1)).astype(bool),
            1.0, -1.0,
        ).reshape(bits, dim)
        for t in range(tables)
    ]).astype(np.float32)


def _emb_table_keys(
    df: DataFrame, dim: int, bits: int, tables: int,
    vec_col: str = "embedding", id_col: str = "vec_id", seed_base: int = 101,
) -> DataFrame:
    """(vec_id, bkey): ``tables`` bucket keys per vector from ONE
    matmul per Arrow batch — the stacked plane matrix (_emb_planes)
    means the input plan executes once instead of ``tables`` times and
    the key frame never carries the vectors (code-review r05 third
    pass #3/#4). Keys are splitmix64(bucket ⊕ mix(t)) — deterministic
    across shards and partitionings."""
    import numpy as np
    import pyarrow as pa

    from ..hashing import splitmix64

    planes = _emb_planes(dim, bits, tables, seed_base)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    tsalt = splitmix64(np.arange(tables, dtype=np.uint64) + np.uint64(0xE3B))

    def assign(iterator):
        for tbl in iterator:
            col = tbl.column(vec_col)
            n = len(tbl)
            # fail loudly on null / wrong-length vectors: a null list
            # contributes 0 elements, so an unguarded reshape either
            # aborts cryptically or — if length errors cancel — shifts
            # every later row onto WRONG bucket keys (silent false
            # negatives; code-review r05 fifth pass #3)
            if col.null_count:
                raise ValueError(f"{vec_col} contains {col.null_count} null vectors")
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
            if flat.size != n * dim:
                raise ValueError(
                    f"{vec_col} is ragged: {n} vectors yield {flat.size} "
                    f"floats, expected {n * dim} (dim={dim})"
                )
            proj = flat.reshape(n, dim) @ planes.T            # (n, T*B)
            signs = (proj > 0).astype(np.int64).reshape(n, tables, bits)
            buckets = (signs * weights).sum(axis=2)           # (n, T)
            with np.errstate(over="ignore"):
                bkey = splitmix64(buckets.astype(np.uint64) ^ tsalt)
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: tbl.column(id_col).take(
                        pa.array(np.repeat(np.arange(n, dtype=np.int64), tables))
                    ),
                    "bkey": pa.array(bkey.reshape(-1).view(np.int64), pa.int64()),
                }
            )

    src = df.select(id_col, vec_col)
    id_t = src.schema[id_col].dataType.simpleString()
    return src.mapInArrow(assign, schema=f"{id_col} {id_t}, bkey long")


def _emb_check_geometry(spark, checkpoint_dir: str, bits: int, tables: int, dim: int):
    """Bucket-key geometry must match the checkpoint's: keys computed
    with different bits/tables/dim never collide with retained keys,
    so every probe would silently miss (code-review r05 third pass
    #2). The geometry is recorded in each shard's lineage meta."""
    prior = [m for m in _emb_completed(spark, checkpoint_dir) if "bits" in m]
    if prior:
        g = prior[-1]
        if (int(g["bits"]), int(g["tables"]), int(g["dim"])) != (bits, tables, dim):
            raise ValueError(
                f"emb checkpoint was built with bits={g['bits']} "
                f"tables={g['tables']} dim={g['dim']}; probing with "
                f"bits={bits} tables={tables} dim={dim} would yield "
                "silent false negatives"
            )


def _emb_hist_matches(
    spark,
    src: DataFrame,
    keyed: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float,
    dim: int,
    bits: int,
    tables: int,
    window: int | None = None,
    exclude_epoch=None,
) -> DataFrame:
    """The LAZY history-match plan of incremental_embedding_dedup —
    sketch probe over bucket keys, bucket-ledger candidate fetch, exact
    cosine verify against the vec ledger. Exposed (via
    emb_annotate_plan) so plan tools can explain the REAL operator."""
    from ..queries import _with_window, seen_within_payloads, sk_window

    empty = spark.createDataFrame(
        [], "vec_id string, hist_vec_id string, cosine double"
    )
    sk, raw = _load_emb_state(
        spark, checkpoint_dir, exclude_epoch=exclude_epoch, with_raw=True
    )
    if sk is None:
        return empty
    w = window if window is not None else sk_window(sk)
    if w > sk_window(sk):
        raise ValueError(
            f"window {w} exceeds the sketch's window_ticks {sk_window(sk)}"
        )
    if w != sk_window(sk):
        sk = _with_window(sk, w)
        raw = None  # re-windowed: stored payload no longer matches
    hits = (
        seen_within_payloads(
            spark, [("", raw if raw is not None else sk.to_bytes())],
            keyed.select(F.col("bkey").alias("key")),
            now, only_seen=True,
        )
        .select(F.col("key").alias("bkey"))
        .distinct()
    )
    _, bucket_path, vec_path, _ = _emb_paths(checkpoint_dir)
    done = _done_shards(_emb_completed(spark, checkpoint_dir), exclude_epoch)
    bucket_led = _read_swap(spark, bucket_path, EMB_BUCKET_LEDGER_DDL)
    vec_led = _read_swap(spark, vec_path, EMB_VEC_LEDGER_DDL)
    assert bucket_led is not None and vec_led is not None, (
        "completed emb shard without its ledgers"
    )
    # exact-cosine verify, round-6 shape (guide §8: decide with small
    # rows, move heavy bytes once; §4.2: vectorized native code inside
    # the kernel). The round-5 plan fetched candidates via a
    # ledger ⋈ broadcast join, DISTINCTed the 2.5 M-pair stream,
    # collected it into a JVM broadcast relation, attached BOTH
    # vectors per pair with two more broadcast joins, and folded the
    # 2·dim cosine per pair through Catalyst's higher-order-function
    # interpreter — measured 11+ s of the 15.7 s bench probe. Every
    # one of those structures was already bounded by the sketch-hit
    # candidate set and already passed through the DRIVER (broadcast
    # relations are driver-collected); round 6 keeps exactly that
    # bound but drops the ceremony:
    # - the hit-key bucket-ledger subset (bkey, hist_vec_id) is
    #   collected once — history itself is still filtered in place by
    #   a broadcast semi of the (tiny) hit-key set and never shuffles;
    # - the candidate partners' vectors (the same semi-join-restricted
    #   set the old plan broadcast as a join side) are collected once;
    # - both broadcast as a bkey→partners CSR + a float32 matrix, and
    #   ONE mapInArrow kernel over the shard re-derives each vector's
    #   bucket keys (same seeded planes), looks up partners, and
    #   computes all pair cosines in double precision, emitting only
    #   pairs at cosine >= threshold.
    # The whole verify is one pure map over the shard — zero joins,
    # zero pair-stream shuffles, vectors crossing Arrow once.
    led_hits = (
        bucket_led.where(
            (F.col("shard").isin(done))
            & (F.col("tick") >= F.lit(now - w + 1))
            & (F.col("tick") <= F.lit(now))
        )
        .select("bkey", F.col("vec_id").alias("hist_vec_id"))
        .join(F.broadcast(hits), "bkey")
        .toArrow()
    )
    hist_ids = led_hits.column("hist_vec_id").unique()
    # Arrow fast path for the candidate-id frame: a row-list
    # createDataFrame ships O(candidates) strings through py4j one
    # batch of pickled rows at a time — single-threaded driver work
    # that a steal burst magnifies (guide §6 Arrow-for-driver-
    # transfers; arrow.pyspark is enabled in get_spark)
    import pandas as pd

    hist_ids_df = spark.createDataFrame(
        pd.DataFrame({"vec_id": hist_ids.to_pandas().astype(str)}),
        schema="vec_id string",  # explicit: inference fails on empty
    )
    hvec_rows = (
        vec_led.where(F.col("shard").isin(done))
        .join(F.broadcast(hist_ids_df), "vec_id", "left_semi")
        .select("vec_id", "embedding")
        .toArrow()
    )
    bc_cand = _broadcast_emb_candidates(spark, led_hits, hvec_rows)
    scored = src.mapInArrow(
        _make_emb_verify_udf(bc_cand, threshold, dim, bits, tables),
        schema="vec_id string, hist_vec_id string, cosine double",
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct("cosine", "hist_vec_id")).alias("_best"))
        .select(
            "vec_id",
            F.col("_best.hist_vec_id").alias("hist_vec_id"),
            F.col("_best.cosine").alias("cosine"),
        )
    )


def _broadcast_emb_candidates(spark, led_hits, hvec_rows):
    """Build + broadcast the verify kernel's lookup state from the
    hit-restricted bucket-ledger rows and the candidate partners'
    vectors: a sorted-bkey CSR (bkey → partner matrix rows) plus the
    float32 vector matrix and its float64 norms. Memory bound =
    O(hit-key ledger rows + candidate partners × dim) — the same
    candidate-restricted set the round-5 plan drove through
    F.broadcast(cand)/F.broadcast(hvecs) JVM relations (which are
    driver-collected too), so the worst-case-re-crawl ceiling noted in
    VERDICT r05 is unchanged, just relocated and paid once instead of
    three times."""
    import numpy as np
    import pyarrow.compute as pc

    ids = hvec_rows.column("vec_id").combine_chunks()
    emb = hvec_rows.column("embedding").combine_chunks()
    flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
    n = len(ids)
    counts = np.diff(emb.offsets.to_numpy(zero_copy_only=False).astype(np.int64))
    if n and not (counts == counts[0]).all():
        raise ValueError("vec ledger holds ragged embeddings")
    d = int(counts[0]) if n else 0
    mat = flat.reshape(n, d) if n else flat.reshape(0, 0)
    f64 = mat.astype(np.float64)
    norms = np.sqrt((f64 * f64).sum(axis=1))
    # ledger rows → (bkey, matrix row); partners whose vector is
    # absent from the vec ledger are dropped, matching the old
    # inner-join-with-hvecs semantics
    bkeys = led_hits.column("bkey").combine_chunks().to_numpy(zero_copy_only=False)
    ridx = pc.index_in(
        led_hits.column("hist_vec_id").combine_chunks(), value_set=ids
    )
    rvalid = pc.is_valid(ridx).to_numpy(zero_copy_only=False)
    ridx_np = ridx.to_numpy(zero_copy_only=False)
    if not rvalid.all():
        bkeys, ridx_np = bkeys[rvalid], ridx_np[rvalid]
    ridx_np = ridx_np.astype(np.int32)
    order = np.argsort(bkeys, kind="stable")
    sb, partner_rows = bkeys[order], ridx_np[order]
    if sb.size:
        first = np.empty(sb.size, dtype=bool)
        first[0] = True
        first[1:] = sb[1:] != sb[:-1]
        starts = np.flatnonzero(first)
        uniq_bkeys = sb[starts]
        csr_off = np.append(starts, sb.size).astype(np.int64)
    else:
        uniq_bkeys = sb
        csr_off = np.zeros(1, np.int64)
    # ids stay a pyarrow Array end to end: it pickles via Arrow IPC
    # (no 10^5-element Python string list), and the kernel can .take()
    # it directly instead of rebuilding a string array per task
    return spark.sparkContext.broadcast(
        (uniq_bkeys, csr_off, partner_rows, ids, mat, norms)
    )


def _make_emb_verify_udf(bc_cand, threshold: float, dim: int, bits: int, tables: int):
    """mapInArrow verify kernel over the bare shard (vec_id,
    embedding) rows: re-derive each vector's ``tables`` bucket keys
    from the same seeded planes (_emb_planes — deterministic, shared
    with _emb_table_keys), look the keys up in the broadcast CSR,
    gather partner vectors from the broadcast matrix, and emit every
    (vec_id, hist_vec_id, cosine) pair at cosine >= threshold. All
    double precision, fully vectorized — no per-row Python, no joins,
    shard vectors cross the Arrow boundary exactly once. A partner
    reachable through several tables is scored more than once; the
    downstream max-per-vec aggregation is insensitive to that, and
    deduplicating here would cost a per-batch sort for nothing.
    Zero-norm guard preserved: an all-zero embedding has no direction
    and never matches anything (code-review r05 third pass #1)."""
    import numpy as np
    import pyarrow as pa

    from ..hashing import splitmix64

    planes = _emb_planes(dim, bits, tables)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    tsalt = splitmix64(np.arange(tables, dtype=np.uint64) + np.uint64(0xE3B))

    def verify(iterator):
        uniq_bkeys, csr_off, partner_rows, id_arr, mat, hnorms = bc_cand.value
        for tbl in iterator:
            n = len(tbl)
            if n == 0 or uniq_bkeys.size == 0:
                continue
            col = tbl.column("embedding")
            if col.null_count:
                raise ValueError(f"embedding contains {col.null_count} null vectors")
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
            if flat.size != n * dim:
                raise ValueError(
                    f"embedding is ragged: {n} vectors yield {flat.size} "
                    f"floats, expected {n * dim} (dim={dim})"
                )
            evec = flat.reshape(n, dim)
            proj = evec @ planes.T
            signs = (proj > 0).astype(np.int64).reshape(n, tables, bits)
            buckets = (signs * weights).sum(axis=2)
            with np.errstate(over="ignore"):
                bkey = splitmix64(buckets.astype(np.uint64) ^ tsalt).reshape(-1)
            kf = bkey.view(np.int64)
            pos = np.searchsorted(uniq_bkeys, kf)
            pos[pos == uniq_bkeys.size] = 0  # clamp; equality check below
            found = uniq_bkeys[pos] == kf
            cnt = np.where(found, csr_off[pos + 1] - csr_off[pos], 0)
            total = int(cnt.sum())
            if total == 0:
                continue
            out_off = np.concatenate([np.zeros(1, np.int64), np.cumsum(cnt)])
            idxs = (
                np.arange(total, dtype=np.int64)
                - np.repeat(out_off[:-1], cnt)
                + np.repeat(np.where(found, csr_off[pos], 0), cnt)
            )
            pidx = partner_rows[idxs].astype(np.int64)
            rows = np.repeat(np.arange(n * tables, dtype=np.int64) // tables, cnt)
            e64 = evec.astype(np.float64)
            enorm = np.sqrt((e64 * e64).sum(axis=1))
            dots = (e64[rows] * mat[pidx].astype(np.float64)).sum(axis=1)
            nprod = enorm[rows] * hnorms[pidx]
            posn = nprod > 0
            cos = np.full(rows.size, -1.0)
            cos[posn] = dots[posn] / nprod[posn]
            keep = cos >= threshold
            if not keep.any():
                continue
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": tbl.column("vec_id").take(pa.array(rows[keep])),
                    "hist_vec_id": id_arr.take(pa.array(pidx[keep])),
                    "cosine": pa.array(cos[keep], pa.float64()),
                }
            )

    return verify


def emb_annotate_plan(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    threshold: float = 0.9,
    bits: int = 12,
    tables: int = 8,
    window: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_epoch=None,
) -> DataFrame:
    """The LAZY annotated-flags plan incremental_embedding_dedup
    materializes (EMB_ANNOTATED_DDL) — exposed, like
    annotate_against_history / near_history_matches, so plan tools can
    .explain() the real operator. Callers who want the flags should
    use incremental_embedding_dedup(update_state=False): this raw plan
    re-reads the checkpoint on every action."""
    _emb_check_geometry(spark, checkpoint_dir, bits, tables, dim)
    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    keyed = _emb_table_keys(
        src, dim=dim, bits=bits, tables=tables,
        vec_col="embedding", id_col="vec_id",
    ).localCheckpoint(eager=True)
    hist_matches = _emb_hist_matches(
        spark, src, keyed, checkpoint_dir, now,
        threshold=threshold, dim=dim, bits=bits, tables=tables,
        window=window, exclude_epoch=exclude_epoch,
    )
    return (
        src.select("vec_id")
        .join(hist_matches, "vec_id", "left")
        .select(
            "vec_id",
            F.col("hist_vec_id").isNotNull().alias("is_emb_dup_history"),
            "hist_vec_id",
            "cosine",
        )
    )


def incremental_embedding_dedup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    threshold: float = 0.9,
    bits: int = 12,
    tables: int = 8,
    window: int | None = None,
    params=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """Flag every vector of a new ingest shard whose cosine similarity
    to a RETAINED in-window historical vector is >= ``threshold`` —
    without re-joining history. Returns EMB_ANNOTATED_DDL, one row per
    input vector (hist_vec_id / cosine = the best historical match).

    History state: a decaying membership sketch over hyperplane-LSH
    BUCKET KEYS (``tables`` independent seeded plane sets × ``bits``
    sign bits; a vector contributes ``tables`` keys, deterministic
    across shards because the planes derive from the seed alone) + a
    bucket ledger (bkey → retained vec, 30 B/key) + a vec ledger
    carrying the retained embeddings (~4·dim B/vec — the honest price
    of exact cosine verification; expiry prunes decayed rows). A new
    shard's keys probe the broadcast sketch: zero in-window false
    negatives ⇒ a vector NONE of whose keys hit provably shares no
    bucket with retained history. Hit keys fetch candidate partners
    from the bucket ledger, and candidates are verified by EXACT
    cosine against the vec ledger — the sketch's FPR and LSH
    collisions cost verification work, never a false flag.

    Detection semantics: an exact duplicate vector of a retained one
    is flagged with CERTAINTY (identical keys in every table, cosine
    1.0 — what the oracle pins); a near-duplicate at cos θ is caught
    with probability 1-(1-(1-θ_angle/π)^bits)^tables (≈ 0.999 at
    cos 0.99 with the defaults), reproducible because planes and
    vectors are fixed. Intra-shard duplicates are out of scope — run
    embedding_near_dup on the shard first (same composition rule as
    incremental_passages).
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver, as in incremental_dedup."""
    from ..params import TimingParams

    if params is None:
        params = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)
    _emb_check_geometry(spark, checkpoint_dir, bits, tables, dim)

    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    # one fused kernel pass (all tables in one matmul, vectors not
    # carried); frozen so probe and state-update never recompute it
    keyed = _emb_table_keys(
        src, dim=dim, bits=bits, tables=tables,
        vec_col="embedding", id_col="vec_id",
    ).localCheckpoint(eager=True)

    hist_matches = _emb_hist_matches(
        spark, src, keyed, checkpoint_dir, now,
        threshold=threshold, dim=dim, bits=bits, tables=tables,
        window=window, exclude_epoch=exclude_epoch,
    )

    ann = (
        src.select("vec_id")
        .join(hist_matches, "vec_id", "left")
        .select(
            "vec_id",
            F.col("hist_vec_id").isNotNull().alias("is_emb_dup_history"),
            "hist_vec_id",
            "cosine",
        )
    ).localCheckpoint(eager=True)

    if update_state:
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_emb_dup_history").cast("long")).alias("h"),
        ).collect()[0]
        keep = ann.where(~F.col("is_emb_dup_history")).select("vec_id")
        _commit_emb_rows(
            spark, src.join(F.broadcast(keep), "vec_id"),
            keyed.join(F.broadcast(keep), "vec_id"),
            checkpoint_dir, now,
            dict(bits=bits, tables=tables, dim=dim, kind_="emb_dup",
                 n_vecs=int(counts["n"]),
                 n_emb_dup_history=int(counts["h"] or 0),
                 n_retained=int(counts["n"]) - int(counts["h"] or 0),
                 **(meta_extra or {})),
            params=params, partitions=partitions,
            pre_lineage=lambda: pre_lineage_hook(ann) if pre_lineage_hook else None,
        )
    return ann


def _commit_emb_rows(
    spark, vec_rows, key_rows, checkpoint_dir, now, meta_fields,
    params, partitions, pre_lineage=None,
):
    """Append (vec_id, embedding) rows + their bucket keys to the emb
    history state — sketch first, ledgers, caller-durable output,
    lineage LAST (the family write order). No probing: commit is
    independent of annotation, which is what lets the guard flag the
    FULL batch but retain only the PUBLISHED survivors (code-review
    r05 fifth pass #1 — the passages survivor-keeper rule applied to
    the semantic half)."""
    state_path, bucket_path, vec_path, lineage_path = _emb_paths(checkpoint_dir)
    shard = len(_emb_completed(spark, checkpoint_dir))
    _heal_swap(state_path)
    _heal_swap(bucket_path)
    _heal_swap(vec_path)
    _commit_sketch_delta(
        state_path, key_rows, F.col("bkey"), F.lit(now), EMB_SPEC,
        params, shard, partitions,
    )
    key_rows.select(
        "bkey", "vec_id", F.lit(now).cast("long").alias("tick"),
        F.lit(shard).cast("int").alias("shard"),
    ).write.mode("append").parquet(bucket_path)
    # cast to the ledger DDL's array<float> at ingest (ADVICE r05 #2):
    # an uncast array<double> caller would commit fine on shard 1 and
    # then poison every later probe with a parquet schema-conversion
    # error when _read_swap applies EMB_VEC_LEDGER_DDL
    vec_rows.select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.lit(now).cast("long").alias("tick"),
        F.lit(shard).cast("int").alias("shard"),
    ).write.mode("append").parquet(vec_path)
    if pre_lineage is not None:
        pre_lineage()
    kind_ = meta_fields.pop("kind_", "emb_dup")
    meta = {"shard": shard, "now": int(now), "kind": kind_, **meta_fields}
    _write_lineage(lineage_path, meta)


def commit_emb_state(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    bits: int = 12,
    tables: int = 8,
    params=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    partitions: int | None = None,
    meta_extra: dict | None = None,
) -> None:
    """Append ``new_df``'s vectors to the emb history WITHOUT probing
    — the survivor-commit half of a split flag-then-publish protocol:
    annotate the full batch with update_state=False, decide what gets
    published, then commit exactly the published set here (the guard's
    embeddings mode does this; committing unpublished vectors would
    let them suppress future docs with no published keeper). Geometry
    must match the checkpoint's (validated, like the probe path).
    ``partitions`` caps the sketch-delta partials the commit collects
    to the driver, as in incremental_dedup."""
    from ..params import TimingParams

    if params is None:
        params = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)
    prior = [m for m in _emb_completed(spark, checkpoint_dir) if "bits" in m]
    if prior:
        g = prior[-1]
        if (int(g["bits"]), int(g["tables"]), int(g["dim"])) != (bits, tables, dim):
            raise ValueError(
                f"emb checkpoint geometry bits={g['bits']} tables={g['tables']} "
                f"dim={g['dim']} != bits={bits} tables={tables} dim={dim}"
            )
    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    keyed = _emb_table_keys(
        src, dim=dim, bits=bits, tables=tables,
        vec_col="embedding", id_col="vec_id",
    ).localCheckpoint(eager=True)
    n = src.count()
    _commit_emb_rows(
        spark, src, keyed, checkpoint_dir, now,
        dict(bits=bits, tables=tables, dim=dim, kind_="emb_dup",
             n_vecs=int(n), n_emb_dup_history=0, n_retained=int(n),
             **(meta_extra or {})),
        params=params, partitions=partitions,
    )
