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
both the sketch and the ledger at its shard's tick.

Scale shape per ingest: one shard-local shuffle (groupBy fp for the
intra-shard first-occurrence), one broadcast probe map, one
broadcast-semi-join against the ledger restricted to candidate fps,
zero joins against corpus text. State grows O(retained docs) in the
ledger and O(1) in the sketch.

Commit shape per ingest: each family's sketch state and lineage are
one shard log (fuggetabouspark.state.ShardLog, union merge rule): the
shard's membership-sketch delta row, its lineage row and compaction's
fold are committed and read FROM THE DRIVER with pyarrow, so lineage,
state loads and compaction run no Spark job at all. The shard-sized
artifacts (the ledger rows and, in the guard, the clean output) are
the caller's step of ShardLog.commit, written one of two ways:

- the operators (incremental_dedup, incremental_near_dup,
  incremental_passages, incremental_embedding_dedup) run as Spark
  plans over a DataFrame of any size: ledger rows are Spark writes,
  and the sketch delta is one mapInArrow pass of the library's update
  kernel over the survivors as they are partitioned, merged on the
  driver;
- StreamingIngestGuard runs a trigger whose batch holds at most
  _LOCAL_TRIGGER_ROWS (2^14) rows on the driver: ONE bounded Spark
  read fetches the batch as Arrow (the JVM computes its fingerprints,
  word hashes and words), every family then runs the same kernels
  over it with numpy/pyarrow in place of joins, and the ledgers, the
  sketch deltas and the clean partition are written by pyarrow
  (state._commit_table, _swap_dir) — one Spark job per trigger. Driver
  memory for it is the batch (≤ 2^14 rows with their word lists),
  the ledger rows whose key is a sketch hit (the exact, near and
  embedding Spark plans broadcast the same sets through the driver),
  and at most _LOCAL_NEAR_PAIRS (2^20) intra-batch candidate pairs. Larger
  batches, other column types and hotter band buckets take the Spark
  path unchanged, with identical artifacts; a batch with a repeated or
  null doc id is refused on either path. expire_ledgers likewise
  rewrites a ledger of at most 2^14 rows on the driver.

One record per family: the four granularities (exact doc, near doc,
passage, embedding) keep the SAME three artifacts — a decaying
membership sketch and a lineage dir (the family's ShardLog) plus one or
two ledgers — under their own subdirectory, so each is described by
one _Family record (EXACT, NEAR, PASSAGES, EMB: subdir, sketch spec,
ledger report name → (dir, DDL)). The recovery rules — lineage-gated
loads, merge-all, the commit order, compaction — are ShardLog's,
stated once in fuggetabouspark.state; the guard's replay rule (which
epoch-tagged shards are history) is _family_state's. Every other
per-family step is written once over the record: the lineage-gated
ledger read (_ledger), the sketch probe (_probe), the shard commit
(_commit_shard: the delta, then the ledgers inside ShardLog.commit),
and expiry (expire_ledgers loops over _FAMILIES). The four families
follow one rule set:

- every family is probed at its sketch's own window_ticks, and expiry
  keeps exactly the rows that window can still see;
- each has one key geometry, module constants that its operator and
  both guard paths read; the passage and embedding geometry is
  recorded in each shard's lineage meta and a call with another one
  raises before anything is probed or written (_check_geometry);
- each writes its lineage meta through one builder (_exact_meta,
  _near_meta, _passage_meta, _emb_meta), shared by its operator and
  the guard's driver path.

The operators only add what differs: how keys are derived and how
sketch hits are verified.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from ..hashing import spark_xxhash64
from ..io import EMBEDDING, TEXT
from ..state import (
    ShardLog,
    _commit_table,
    _ddl_columns,
    _ddl_schema,
    _heal_swap,
    _live,
    _pa_read_table,
    _publish,
    _swap_dir,
)
from .dedup import _id_rank, _mask_spans, _mask_words, _read_bounded, _run_starts
from .similarity import _planes, _vec_matrix

DEDUP_SPEC = "dedup_fp"
LEDGER_DDL = "fp long, doc_id string, tick long, shard int"
NEAR_SPEC = "near_dup_band"
BAND_LEDGER_DDL = "bkey long, doc_id string, tick long, shard int"
SIG_LEDGER_DDL = "doc_id string, sig array<long>, tick long, shard int"
PASSAGE_SPEC = "passage_fp"
PASSAGE_LEDGER_DDL = "fp long, keep_doc string, keep_pos int, tick long, shard int"
EMB_SPEC = "emb_dup_bucket"
EMB_BUCKET_LEDGER_DDL = "bkey long, vec_id string, tick long, shard int"
EMB_VEC_LEDGER_DDL = "vec_id string, embedding array<float>, tick long, shard int"


# A guard trigger whose batch has at most this many rows runs every
# family on the driver (StreamingIngestGuard.process_batch); the read
# fetches one row more to tell. expire_ledgers rewrites a ledger of at
# most this many rows on the driver too.
_LOCAL_TRIGGER_ROWS = 1 << 14
# The driver path enumerates at most this many intra-batch LSH
# candidate pairs; a batch with more (a hot band bucket) takes the
# Spark path.
_LOCAL_NEAR_PAIRS = 1 << 20
# Column types a batch may hold to take the driver path (arrays of
# them too).
_LOCAL_SCALARS = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    BooleanType, StringType, BinaryType,
)
# The key geometry of the near, passage and embedding families (their
# columns are io.TEXT and io.EMBEDDING), named once: their operators,
# the guard's Spark path (those operators) and its driver path (the
# _local helpers) all read them here. A shard's keys must be derived
# exactly as history's were, or an in-window duplicate's keys miss the
# checkpoint without any error. The near and emb thresholds, the emb
# bits and the passage window are the defaults of the operators' own
# ``threshold``/``bits``/``window``; the emb and passage geometry is
# recorded in each shard's lineage meta and checked against the
# checkpoint's (_check_geometry).
_NEAR_THRESHOLD, _NEAR_NUM_HASHES, _NEAR_BANDS, _NEAR_ROWS_PER_BAND = 0.8, 64, 16, 4
_NEAR_SHINGLE = 3
_PASSAGE_WINDOW, _PASSAGE_STRIDE = 50, 1
_EMB_THRESHOLD, _EMB_BITS, _EMB_TABLES = 0.9, 12, 8


class _Family(NamedTuple):
    """One granularity's history store under ``<checkpoint>/<subdir>``:
    a union-rule ShardLog (membership sketch rows of spec ``spec`` and
    one lineage row per shard) plus ``ledgers`` (expiry report name →
    (dir name, DDL)). Every family owns its own directories — disjoint
    logs, so no family's compaction, shard numbering or recovery can
    touch another's (code-review r04). The FIRST ledger is keyed by the
    sketch key: it is what verifies sketch hits, and the shard commit
    folds its key column into the sketch delta."""

    subdir: str
    spec: str
    ledgers: dict

    def log(self, checkpoint_dir: str) -> ShardLog:
        return ShardLog(os.path.join(checkpoint_dir, self.subdir), additive=False)

    def path(self, checkpoint_dir: str, name: str) -> str:
        """The directory of the ledger whose report name is ``name``."""
        return os.path.join(checkpoint_dir, self.subdir, self.ledgers[name][0])


EXACT = _Family("", DEDUP_SPEC, {"fp_ledger": ("fp_ledger", LEDGER_DDL)})
NEAR = _Family("near", NEAR_SPEC, {
    "band_ledger": ("band_ledger", BAND_LEDGER_DDL),
    "sig_ledger": ("sig_ledger", SIG_LEDGER_DDL),
})
PASSAGES = _Family("passages", PASSAGE_SPEC, {
    "passage_ledger": ("fp_ledger", PASSAGE_LEDGER_DDL),
})
EMB = _Family("emb", EMB_SPEC, {
    "bucket_ledger": ("bucket_ledger", EMB_BUCKET_LEDGER_DDL),
    "vec_ledger": ("vec_ledger", EMB_VEC_LEDGER_DDL),
})
_FAMILIES = (EXACT, NEAR, PASSAGES, EMB)


def _read_swap(spark, path: str, ddl: str) -> DataFrame | None:
    """Spark read of the ledger dir ``path``, through _live (an expiry
    that crashed mid-swap leaves only the _old copy); None when it does
    not exist. The explicit schema makes an EMPTY rewritten ledger
    (zero part files) readable."""
    path = _live(path)
    if not os.path.exists(path):
        return None
    return spark.read.schema(ddl).parquet(path)


def _delta_spec(name: str, params):
    """The SketchSpec of a family's membership-sketch delta: one 64-bit
    key per row (value 'tokens'). ``params`` None means every family's
    default: a TBF of capacity 2M at error 0.001 that never decays
    (window 2**31 ticks)."""
    from ..params import ScalingParams, TimingParams
    from ..pipeline import SketchSpec

    if params is None:
        params = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)
    kind = "stbf" if isinstance(params, ScalingParams) else "tbf"
    return SketchSpec(name, kind, params, value="tokens")


def _sketch_delta(
    frame: DataFrame, key, tick, name: str, params, partitions: int | None,
) -> list[dict]:
    """Fold ``frame``'s ``key`` column (one 64-bit key per row, at
    ``tick``) into a TBF/STBF delta: the shard's state rows for
    ShardLog.commit. The partials come from the library's own update kernel
    (pipeline.make_update_fn) run over the frame AS IT IS partitioned —
    no repartition, no applyInPandas merge stage — and are merged on
    the driver with merge_rows_to_sketches, as the corpus build does.
    Merges are byte-order-invariant monoid merges and n_items counts
    raw items, so a TBF delta's bytes do not depend on the partitioning
    (an STBF's inner-tier counters are batching-dependent by
    construction, as in every build).

    ``partitions`` caps the partials collected to the driver
    (``coalesce``, which does not shuffle): driver memory for the
    delta is at most ``partitions`` × payload. It is a hard cap on
    driver memory, so it does not follow session._merge_small_splits,
    which widens with the input's size and stands aside under dynamic
    allocation. An empty frame gives no row — a shard that retained
    nothing adds nothing to the sketch.
    ``params``: see _delta_spec."""
    from ..pipeline import PARTIAL_DDL, make_update_fn

    spec = _delta_spec(name, params)
    rows = frame.select(F.array(key).alias("tokens"), tick.cast("long").alias("tick"))
    if partitions is not None:
        rows = rows.coalesce(int(partitions))
    partials = rows.mapInArrow(
        make_update_fn([spec], (), 1), schema=PARTIAL_DDL
    ).collect()
    return _merged_delta(partials, name)


def _sketch_keys(keys, tick: int, name: str, params) -> list[dict]:
    """_sketch_delta over a driver-held int64 Arrow array: the same
    update kernel, run in-process over one batch — the same delta bytes
    for a TBF."""
    from ..pipeline import make_update_fn

    batch = pa.RecordBatch.from_pydict({
        "tokens": pa.ListArray.from_arrays(
            pa.array(np.arange(len(keys) + 1, dtype=np.int32)), keys
        ),
        "tick": pa.array(np.full(len(keys), tick, np.int64)),
    })
    update = make_update_fn([_delta_spec(name, params)], (), 1)
    return _merged_delta([r for b in update(iter([batch])) for r in b.to_pylist()], name)


def _merged_delta(partials, name: str) -> list[dict]:
    """The state row of the partials' merged delta (group '' — the
    incremental families never group their state); none without
    partials."""
    from ..pipeline import merge_rows_to_sketches

    sk = merge_rows_to_sketches(partials).get((name, ""))
    if sk is None:
        return []
    return [{"spec": name, "group": "", "payload": sk.to_bytes(), "n_items": int(sk.n_items)}]


def _family_state(checkpoint_dir: str, fam: _Family):
    """``(done, sketch, raw)``: ``fam``'s history shards, its membership
    sketch merged over them (None before the first) and the stored
    payload when one row makes it up (ShardLog.load). Only the
    ungrouped ``(spec, '')`` sketch is the family's: a grouped row in
    the same directory is a different sketch.

    The guard's replay rule: a shard whose lineage meta carries a guard
    ``epoch`` is history only once the exact lineage, the epoch's
    marker, records that epoch. Until then it belongs to an attempt
    that did not finish — a crash its replay must not read as history
    (every doc would dup itself), or an abandoned epoch that never
    published its docs. Exact and untagged shards are history once
    complete; the exact lineage is read only when ``fam`` holds tagged
    shards. ``done`` restricts every ledger verify, so the keys of an
    unmarked shard that a compaction folded in flag nothing."""
    log = fam.log(checkpoint_dir)
    metas = log.metas()
    if fam is not EXACT and any("epoch" in m for m in metas):
        marked = {m.get("epoch") for m in EXACT.log(checkpoint_dir).metas()}
        metas = [m for m in metas if "epoch" not in m or m["epoch"] in marked]
    done = [int(m["shard"]) for m in metas]
    sk, raw = log.load(done, with_raw=True).get((fam.spec, ""), (None, None))
    return done, sk, raw


def load_dedup_state(spark, checkpoint_dir: str):
    """Merged membership sketch from all COMPLETED shards (those with
    a durable lineage row), or None if no shard ever completed — the
    exact family's union-rule ShardLog load (fuggetabouspark.state
    states the recovery rules)."""
    return _family_state(checkpoint_dir, EXACT)[1]


def _compact(checkpoint_dir: str, fam: _Family):
    """ShardLog.compact of ``fam``: its merged sketch, or None if the
    family has no completed shard."""
    return fam.log(checkpoint_dir).compact().get((fam.spec, ""))


def compact_dedup_checkpoint(spark, checkpoint_dir: str):
    """Fold every completed shard's sketch rows into ONE shard=-1 row
    (ShardLog.compact: no Spark job, a crash-safe directory swap).
    Ledger and lineage are untouched: the ledger is read with columnar
    pushdown and lineage rows are tiny, but the sketch-state merge was
    O(shards × payload) per load — the unbounded per-trigger cost
    code-review r04 flagged for long-running streaming ingest. Safe
    and idempotent any time; returns the merged sketch (None if the
    checkpoint is empty)."""
    return _compact(checkpoint_dir, EXACT)


def _ledger(spark, checkpoint_dir: str, fam: _Family, name: str, done: list[int],
            now: int | None = None, w: int | None = None) -> DataFrame:
    """Ledger ``name`` of ``fam`` restricted to the history shards
    ``done`` and, when ``w`` is given, to ticks in [now - w + 1, now] —
    the window filter mirrors TimingBloomFilter.contains_batch. Only
    called once a probe found a non-empty sketch, which implies a
    completed shard, whose lineage row is only written after its ledger
    appends: a missing ledger is a broken checkpoint."""
    df = _read_swap(spark, fam.path(checkpoint_dir, name), fam.ledgers[name][1])
    assert df is not None, f"completed {fam.spec} shard without its {name}"
    df = df.where(F.col("shard").isin(done))
    if w is not None:
        df = df.where((F.col("tick") >= F.lit(now - w + 1)) & (F.col("tick") <= F.lit(now)))
    return df


def ledger_df(spark, checkpoint_dir: str) -> DataFrame | None:
    """The fp ledger, restricted to completed shards so a half-written
    ingest's rows are invisible — the same recovery rule as
    load_dedup_state."""
    df = _read_swap(spark, EXACT.path(checkpoint_dir, "fp_ledger"), LEDGER_DDL)
    if df is None:
        return df
    return df.where(F.col("shard").isin(EXACT.log(checkpoint_dir).done()))


def expire_ledgers(spark, checkpoint_dir: str, now: int) -> dict:
    """Prune DECAYED rows from every ledger under ``checkpoint_dir`` —
    every family's ledgers that exist (exact fp; near band and sig;
    passage; emb bucket and vec). Without this, ledgers grow
    monotonically: the query path filters out-of-window rows (so
    correctness never depended on expiry) but "state = O(retained
    docs)" silently becomes O(all docs ever) on a month-long ingest
    (VERDICT r04 "What's missing" #1).

    A family's row is retained iff ``tick >= now - w + 1``, with ``w``
    that family's own sketch window_ticks (a family without a sketch is
    skipped): the oldest tick any future probe can see, because every
    family is probed at its sketch's own window and ``now`` is
    monotone. A narrower ``w`` would drop rows that a later in-window
    sketch hit must verify against, so a real duplicate would survive.
    Each ledger is
    rewritten via the same aside-rename swap as compaction (crash
    between renames → _read_swap falls back to the _old copy). Safe
    and idempotent any time; the sketch itself needs no pruning — it
    decays by construction. Returns {ledger_name: rows_kept}.

    A ledger of at most _LOCAL_TRIGGER_ROWS rows (counted from the
    parquet footers) is filtered and rewritten on the driver: one
    pyarrow read, one file typed from the ledger's DDL, no Spark job.
    Larger ledgers are rewritten by Spark."""
    import pyarrow.dataset as ds

    from ..queries import sk_window

    kept: dict[str, int] = {}
    for fam in _FAMILIES:
        # one state load per family, not per ledger
        sk = _family_state(checkpoint_dir, fam)[1]
        if sk is None:
            continue
        lo = int(now) - sk_window(sk) + 1
        for name, (_, ddl) in fam.ledgers.items():
            path = fam.path(checkpoint_dir, name)
            src = _live(path)
            if not os.path.exists(src):
                continue
            schema = _ddl_schema(ddl)
            if ds.dataset(src, format="parquet", schema=schema).count_rows() <= _LOCAL_TRIGGER_ROWS:
                tbl = _pa_read_table(src, filter=ds.field("tick") >= lo, schema=schema)
                # the parts list in name order and their names are
                # random, so the kept rows are put in a total order of
                # their non-list columns: the same rows always rewrite
                # to the same bytes
                tbl = tbl.sort_by([
                    (f.name, "ascending") for f in schema if not pa.types.is_list(f.type)
                ])
                _swap_dir(lambda tmp, tbl=tbl, ddl=ddl: _commit_table(tmp, tbl, ddl), path)
                kept[name] = tbl.num_rows
                continue
            live = _read_swap(spark, path, ddl).where(F.col("tick") >= F.lit(lo))
            # localCheckpoint BEFORE the swap: the plan reads the very
            # directory the swap replaces (same cache-invalidation trap
            # as incremental_dedup's annotated frame)
            live = live.localCheckpoint(eager=True)
            _swap_dir(
                lambda tmp, live=live: live.write.mode("overwrite").parquet(tmp), path
            )
            kept[name] = live.count()
    return kept


def completed_shards(spark, checkpoint_dir: str) -> list[dict]:
    """Lineage metadata of completed ingests, in shard order."""
    return EXACT.log(checkpoint_dir).metas()


def _probe(spark, checkpoint_dir: str, fam: _Family, keys: DataFrame, now: int):
    """Probe ``fam``'s broadcast sketch with the one-column frame
    ``keys``: ``(hits, w, done)`` — the DISTINCT keys the sketch has
    seen within its own window_ticks ``w`` (same column name as
    ``keys``), the window itself, and the history shards the state
    was merged from (_family_state; the shards the ledger verify must
    read). None when the family has no history yet.

    The stored payload goes straight to the broadcast when one row
    makes up the state, skipping a zlib re-compress of the bucket array
    per probe (round 6)."""
    from ..queries import seen_within_payloads, sk_window

    done, sk, raw = _family_state(checkpoint_dir, fam)
    if sk is None:
        return None
    w = sk_window(sk)
    (col,) = keys.columns
    hits = (
        seen_within_payloads(
            spark, [("", raw if raw is not None else sk.to_bytes())],
            keys.select(F.col(col).alias("key")), now, only_seen=True,
        )
        .select(F.col("key").alias(col))
        .distinct()
    )
    return hits, w, done


def _probe_local(checkpoint_dir: str, fam: _Family, keys, now: int):
    """_probe on the driver, for the int64 key array ``keys``: ``(hits,
    w, done)`` with ``hits`` the sorted distinct keys the driver-held
    sketch has seen within its own window ``w`` — no broadcast, no
    job."""
    from ..queries import sk_window

    done, sk, _ = _family_state(checkpoint_dir, fam)
    if sk is None:
        return None
    keys = np.unique(np.asarray(keys, np.int64))
    return keys[sk.contains_batch(keys, now)], sk_window(sk), done


def _ledger_local(checkpoint_dir: str, fam: _Family, name: str, done: list[int],
                  key: str, values, columns: list[str], now: int | None = None,
                  w: int | None = None) -> pa.Table:
    """_ledger on the driver: the ``columns`` of ledger ``name``'s rows
    in the history shards ``done`` (and, when ``w`` is given, at
    ticks in [now - w + 1, now]) whose ``key`` is one of ``values``.
    pyarrow applies the filter while it scans, so only matching rows
    are held."""
    import pyarrow.dataset as ds

    path = _live(fam.path(checkpoint_dir, name))
    assert os.path.exists(path), f"completed {fam.spec} shard without its {name}"
    cond = ds.field("shard").isin(pa.array(done, pa.int32())) & ds.field(key).isin(values)
    if w is not None:
        cond = cond & (ds.field("tick") >= now - w + 1) & (ds.field("tick") <= now)
    return _pa_read_table(
        path, columns=columns, filter=cond, schema=_ddl_schema(fam.ledgers[name][1])
    )


def _commit_shard(
    checkpoint_dir: str, fam: _Family, rows: dict, tick, now: int, params,
    partitions: int | None, meta: dict, hook=None,
) -> None:
    """Append one shard to ``fam``'s history: the sketch delta over the
    FIRST ledger's key column is the shard's state row of
    ShardLog.commit, whose caller step — between the state row and the
    lineage row ``{now, **meta}`` — is:

    1. heal any crashed expiry swap of each ledger — appending to a
       missing primary dir would shadow the _old history (code-review
       r05);
    2. each ledger's rows (``rows``: report name → frame carrying the
       DDL's data columns), with ``tick`` (a Column) and the shard id
       added and every column cast to the ledger DDL's type at ingest
       — e.g. an ``array<double>`` embedding committed uncast would
       write fine once and then fail every later probe with a parquet
       schema-conversion error when _read_swap applies the DDL
       (ADVICE r05 #2);
    3. ``hook()``: caller-durable output (the exact family's
       ``pre_lineage_hook``, e.g. the guard's clean stream), which must
       land before the lineage row.

    ``rows`` may instead hold driver-side pyarrow tables (the guard's
    driver path), with ``tick`` an int: the delta then runs the update
    kernel in-process (_sketch_keys) and each ledger's rows are one
    driver-written file typed from its DDL (state._commit_table) — no
    Spark job, same order."""
    log = fam.log(checkpoint_dir)
    shard = len(log.metas())
    first = next(iter(fam.ledgers))
    key = _ddl_columns(fam.ledgers[first][1])[0][0]
    local = isinstance(rows[first], pa.Table)
    if local:
        delta = _sketch_keys(rows[first].column(key).combine_chunks(), tick, fam.spec, params)
    else:
        delta = _sketch_delta(rows[first], F.col(key), tick, fam.spec, params, partitions)

    def ledgers_then_hook():
        for name, (_, ddl) in fam.ledgers.items():
            path = fam.path(checkpoint_dir, name)
            _heal_swap(path)
            if local:
                t = rows[name]
                t = t.append_column("tick", pa.array(np.full(t.num_rows, tick, np.int64)))
                t = t.append_column("shard", pa.array(np.full(t.num_rows, shard, np.int32)))
                _commit_table(path, t, ddl)
                continue
            derived = {"tick": tick, "shard": F.lit(shard)}
            rows[name].select(*(
                derived.get(c, F.col(c)).cast(t).alias(c) for c, t in _ddl_columns(ddl)
            )).write.mode("append").parquet(path)
        if hook is not None:
            hook()

    log.commit(shard, delta, {"now": int(now), **meta}, ledgers_then_hook)


# ---- each family's lineage meta, built in one place for its operator
# and the guard's driver path; the emb and passage metas record the key
# geometry that _check_geometry reads back ----

def _exact_meta(n: int, h: int, i: int, r: int, extra: dict | None = None) -> dict:
    return {"n_docs": n, "n_dup_history": h, "n_dup_intra": i, "n_retained": r,
            **(extra or {})}


def _near_meta(n: int, h: int, i: int, extra: dict | None = None) -> dict:
    return {"kind": "near_dup", "n_docs": n, "n_near_dup_history": h,
            "n_near_dup_intra": i, "n_retained": n - h - i, **(extra or {})}


def _passage_geometry(window: int) -> dict:
    return {"window": int(window), "stride": _PASSAGE_STRIDE}


def _passage_meta(window: int, n: int, n_windows: int, n_hist: int,
                  extra: dict | None = None) -> dict:
    return {"kind": "passages", **_passage_geometry(window), "n_docs": n,
            "n_windows": n_windows, "n_hist_windows": n_hist, **(extra or {})}


def _emb_geometry(bits: int, dim: int) -> dict:
    return {"bits": int(bits), "tables": _EMB_TABLES, "dim": int(dim)}


def _emb_meta(bits: int, dim: int, n: int, n_dup: int, extra: dict | None = None) -> dict:
    return {"kind": "emb_dup", **_emb_geometry(bits, dim), "n_vecs": n,
            "n_emb_dup_history": n_dup, "n_retained": n - n_dup, **(extra or {})}


def _check_geometry(checkpoint_dir: str, fam: _Family, geometry: dict) -> None:
    """``geometry`` must equal the key geometry recorded in the lineage
    meta of ``fam``'s last shard that records one (a checkpoint written
    before shards recorded it is not checked): keys derived with another
    geometry never collide with retained keys, so every probe would
    silently miss (code-review r05 third pass #2). Raises ValueError;
    callers check before anything is probed or written."""
    prior = [m for m in fam.log(checkpoint_dir).metas() if geometry.keys() <= m.keys()]
    if prior and {k: prior[-1][k] for k in geometry} != geometry:
        def fmt(g):
            return " ".join(f"{k}={g[k]}" for k in geometry)

        raise ValueError(
            f"{fam.spec} checkpoint was built with {fmt(prior[-1])}; probing "
            f"with {fmt(geometry)} would yield silent false negatives"
        )


def _shard_fps(new_df: DataFrame, text_col: str, now: int) -> DataFrame:
    """The shard's (doc_id, fp, tick) frame — the only shape the exact
    incremental operator ever looks at (one row per doc, ~25 B). Every
    doc's tick is the shard's ``now``, as in the other three
    families."""
    return new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.xxhash64(F.col(text_col)).alias("fp"),
        F.lit(now).cast("long").alias("tick"),
    )


def annotate_against_history(
    spark,
    fps: DataFrame,
    checkpoint_dir: str,
    now: int,
) -> DataFrame:
    """The LAZY annotated-flags plan incremental_dedup materializes,
    over the shard's _shard_fps frame ``fps`` (as near_history_matches
    takes the signature frame): exposed separately so plan gates
    (tools/explain_plans.py) can .explain() the real operator — the
    probe must stay a pure map and the ledger verify a
    BroadcastHashJoin — instead of a hand-built replica (code-review
    r04). Callers who want the flags should use
    incremental_dedup(update_state=False): the raw plan re-reads the
    checkpoint on every action.

    The plan references ``fps`` THREE times (probe keys, intra-shard
    firsts, the annotated left side), so a caller that materializes it
    once saves two scan+hash passes over the shard text per action
    (round 6, guide §2.4; incremental_dedup does exactly this)."""
    # ---- history probe: broadcast sketch, then exact ledger verify ----
    probe = _probe(spark, checkpoint_dir, EXACT, fps.select("fp"), now)
    if probe is not None:
        hits, w, done = probe
        # candidates are the tiny side: broadcast them INTO the ledger
        # scan so history is filtered, never shuffled. max(tick) per fp
        # is the latest retained in-window sighting (re-ingests after
        # decay append a fresh ledger row — and a crash-retried shard
        # may have appended its ledger rows twice, which this max
        # collapses)
        verified = (
            _ledger(spark, checkpoint_dir, EXACT, "fp_ledger", done, now, w)
            .join(F.broadcast(hits), "fp")
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
    params=None,
    text_col: str = TEXT,
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
) -> DataFrame:
    """Dedup ``new_df`` against corpus history AND itself; optionally
    append the survivors to the history state at tick ``now`` (every
    doc of a shard is one sighting at the shard's tick). Returns the
    annotated frame (doc_id, fp, tick, is_dup_history, is_dup_intra,
    hist_doc_id), local-checkpointed so the flags are frozen before the
    state writes (see inline note) and the caller's actions never
    recompute the probe:

    - ``is_dup_history``: an EARLIER ingest retained a doc with the
      same text fingerprint whose tick is within the sketch's
      window_ticks —
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
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver (``coalesce``, no shuffle): driver memory
    for the delta is at most ``partitions`` × payload; None keeps the
    survivor frame's own partitioning (_sketch_delta)."""
    # one scan of the shard text: the annotated plan references the fp
    # frame three times (probe keys, intra-shard firsts, the annotated
    # left side) and an un-materialized fps would re-scan + re-hash the
    # shard per reference inside the localCheckpoint job below (round
    # 6, guide §2.4 — measured 3 corpus scans in one job). Shard-sized
    # rows only (doc_id, fp, tick ≈ 25 B/doc).
    fps = _shard_fps(new_df, text_col, now).localCheckpoint(eager=True)
    ann = annotate_against_history(spark, fps, checkpoint_dir, now)
    # localCheckpoint, not persist: the annotated plan READS the ledger
    # path this function is about to APPEND to, and Spark's cache
    # manager invalidates-and-recaches any cached plan whose source
    # path is written — a merely-persisted ann would be silently
    # recomputed against the post-write ledger, flagging every doc as
    # a duplicate of itself (observed). Checkpointing truncates the
    # lineage so the flags are frozen before any state mutation.
    ann = ann.localCheckpoint(eager=True)

    if update_state:
        # a survivor is a row whose flags are both false: a null doc id
        # leaves is_dup_intra null, so that row is no survivor (it
        # enters neither the ledger nor the clean output)
        kept = ~F.col("is_dup_history") & ~F.col("is_dup_intra")
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_dup_history").cast("long")).alias("h"),
            F.sum(F.col("is_dup_intra").cast("long")).alias("i"),
            F.sum(kept.cast("long")).alias("r"),
        ).collect()[0]
        _commit_shard(
            checkpoint_dir, EXACT, {"fp_ledger": ann.where(kept)}, F.lit(now), now,
            params, partitions,
            _exact_meta(int(counts["n"]), int(counts["h"] or 0), int(counts["i"] or 0),
                        int(counts["r"] or 0), meta_extra),
            pre_lineage_hook and (lambda: pre_lineage_hook(ann)),
        )
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
    - a HALF-committed epoch (crash anywhere before that marker) is
      invisible to its re-run. This is the replay rule
      (_family_state): the near, passage and embedding shards of epoch
      e carry ``epoch`` e in their lineage meta and are history only
      once the exact lineage records e, so an epoch never retried
      never suppresses a later doc either. The clean_dir output of a
      half-committed epoch is replaced on re-run (epoch-partitioned
      dynamic overwrite).

    Reading ``clean_dir``: each epoch is one ``_epoch=N`` partition
    directory. Spark's parquet reader sees every epoch, but pyarrow's
    dataset discovery skips path components that start with ``_``, so
    ``pyarrow.dataset.dataset`` or ``pyarrow.parquet.read_table`` over
    ``clean_dir`` returns no rows: read it with Spark, or read one
    ``_epoch=N`` directory at a time with pyarrow. The directory name
    stays, because existing readers address ``_epoch=N`` by name.

    Fixed inputs: a batch's ``doc_id`` keys its docs, ``text`` holds
    their text and, with ``embeddings=True``, ``embedding`` their
    vectors. A doc is keyed by its doc id as a string, so a batch
    whose doc ids repeat or hold a null raises ValueError before
    anything is probed or written. The dedup clock tick of epoch e is
    now_for_epoch(e) = e + 1, and every family is probed at its
    sketch's own window_ticks (set through ``params`` /
    ``near_params`` / ``passage_params`` / ``emb_params``). The near
    family runs MinHash-LSH at threshold 0.8 with 64 hashes of 3-word
    shingles in 16 bands of 4 rows, the
    passage family 50-word windows at stride 1, the embedding family
    cosine 0.9 over 8 tables of 12 bits: defined once at the top of
    this module (io.TEXT, io.EMBEDDING, _NEAR_*, _PASSAGE_*, _EMB_*) for
    both of the paths below. The passage and embedding shards record
    their geometry in their lineage meta, and a trigger on a checkpoint
    of another geometry raises ValueError before anything is probed or
    written (_check_geometry).

    Commit path: every family's sketch delta, lineage row and
    compaction row is written from the driver (its ShardLog: a pyarrow
    file under a '_' temp name, then an atomic ``os.replace``), so a
    crash mid-commit leaves an invisible temp file, never a torn row,
    and the epoch marker is either fully present or absent. Each
    trigger first reads the batch once, bounded: at most 2^14 + 1 rows
    in one Spark job (_read_local). A batch that fits runs every
    family on the driver over that Arrow batch and writes its ledgers
    and its clean partition with pyarrow too: one Spark job per
    trigger, driver memory bounded by the batch plus the hit-matching
    ledger rows. These batches take the Spark path instead:

    - more than _LOCAL_TRIGGER_ROWS = 2^14 rows;
    - a column whose type is not integral, float, double, boolean,
      string or binary, nor an array of one;
    - a ``text`` column that is not a string;
    - with ``near=True``, more than _LOCAL_NEAR_PAIRS intra-batch
      candidate pairs (a hot band bucket).

    Such a batch first runs one aggregate that checks its doc ids, then
    each family's Spark operator, whose ledgers and clean output are
    Spark writes; ``partitions`` caps the sketch-delta partials each of
    those commits collects to the driver (``coalesce``, no shuffle).
    Both paths commit in the same order and leave identical artifacts,
    so one checkpoint may mix them.

    ``near=True`` (round 5, VERDICT r04 #3) additionally runs
    incremental_near_dup per micro-batch under the SAME epoch
    protocol: near state commits first (its own lineage under near/),
    the exact-dedup lineage row remains the FINAL epoch marker, and
    the clean output keeps only docs that survive BOTH operators.
    A retry's duplicate near-state rows are harmless (merge-all
    membership semantics) and bounded by compaction/expiry.

    ``expire_every`` (round 5, VERDICT r04 #1) prunes decayed ledger
    rows every N batches via expire_ledgers, keeping checkpoint bytes
    O(retained docs) on long-running windowed ingests.

    ``passages=True`` (round 5) additionally runs incremental_passages
    per micro-batch on the SURVIVOR set (inside the clean-publish
    hook, after exact/near filtering — code-review r05: committing
    passages of a doc that doc-level dedup then drops would mask
    future copies with no published keeper anywhere): surviving docs
    are published with every span that repeats a RETAINED historical
    passage masked out of ``text`` (drop-all-on-the-new-side;
    n_tokens_removed appended as ``_passage_tokens_removed``).
    Passage state commits under its own lineage strictly before the
    exact marker, under the same replay rule;
    sketch sizing via passage_params (capacity ≈ retained distinct
    window fps). Requires ``clean_dir`` (the survivor set is only
    defined there).

    ``embeddings=True`` (round 5) adds the SEMANTIC granularity: each
    batch's ``embedding`` vectors (keyed by doc_id) are FLAGGED
    against history by incremental_embedding_dedup, and the PUBLISHED
    survivors' vectors are committed to semantic history inside the
    clean-publish hook (commit_emb_state — flags on the full batch,
    state from survivors only, so no unpublished vector can suppress
    future docs), all strictly before the exact epoch marker.
    ``emb_dim`` is required; sizing via emb_params. Scope note:
    INTRA-batch semantic duplicates are not filtered (same scoping as
    the operator itself — run embedding_near_dup on the batch upstream
    if needed); both copies publish and both vectors enter history.
    """

    def __init__(
        self,
        spark,
        checkpoint_dir: str,
        clean_dir: str | None = None,
        params=None,
        partitions: int | None = None,
        compact_every: int | None = 64,
        near: bool = False,
        near_params=None,
        expire_every: int | None = None,
        passages: bool = False,
        passage_params=None,
        embeddings: bool = False,
        emb_dim: int | None = None,
        emb_params=None,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.clean_dir = clean_dir
        self.params = params
        self.partitions = partitions
        # every batch reloads-and-merges the sketch rows of all shards
        # (O(shards × payload)); periodic compaction folds them into
        # one shard=-1 row so per-trigger cost stays O(compact_every)
        # instead of growing forever (code-review r04)
        self.compact_every = compact_every
        self.near = near
        self.near_params = near_params
        self.expire_every = expire_every
        if passages and clean_dir is None:
            raise ValueError(
                "passages=True requires clean_dir: passage history is "
                "committed for the published survivor set only"
            )
        self.passages = passages
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
        self.emb_params = emb_params
        self._batches_done = 0

    def now_for_epoch(self, epoch_id: int) -> int:
        """The dedup clock tick of stream epoch ``epoch_id``: epoch + 1,
        monotone per trigger."""
        return int(epoch_id) + 1

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
        # both paths derive keys at the module geometry: a checkpoint of
        # another one fails here, before anything is probed or written
        if self.passages:
            _check_geometry(self.checkpoint_dir, PASSAGES, _passage_geometry(_PASSAGE_WINDOW))
        if self.embeddings:
            _check_geometry(self.checkpoint_dir, EMB, _emb_geometry(_EMB_BITS, self.emb_dim))
        tbl = _read_local(batch_df, TEXT, self.near or self.passages, self.passages)
        if tbl is None:
            # the read also declines repeated or null doc ids; one
            # aggregate tells them apart from its other reasons
            n, ids = batch_df.select(
                F.count(F.lit(1)), F.count_distinct(F.col("doc_id").cast("string"))
            ).first()
            if n != ids:
                raise ValueError(f"epoch {ep}: the batch holds a repeated or null doc_id")
        if tbl is None or not self._process_local(tbl, ep, now):
            self._process_spark(batch_df, ep, now)
        self._batches_done += 1
        if self.compact_every and self._batches_done % self.compact_every == 0:
            for fam, on in ((EXACT, True), (NEAR, self.near),
                            (PASSAGES, self.passages), (EMB, self.embeddings)):
                if on:
                    _compact(self.checkpoint_dir, fam)
        if self.expire_every and self._batches_done % self.expire_every == 0:
            expire_ledgers(self.spark, self.checkpoint_dir, now=now)

    def _process_local(self, tbl, ep: int, now: int) -> bool:
        """One trigger over the driver-held batch ``tbl`` (_read_local):
        every enabled family's flags first, then the commits in the
        Spark path's order — near shard, exact sketch and ledger, the
        publish hook (emb state, passage shard, mask, clean partition),
        the exact lineage row last. False, with nothing written, when
        the near family's intra-batch candidate pairs exceed
        _LOCAL_NEAR_PAIRS."""
        ck = self.checkpoint_dir
        ids, n = tbl.column("_fgs_id"), tbl.num_rows
        keep = np.ones(n, bool)  # survives every doc-level family
        if self.embeddings:
            keep &= ~_emb_flags_local(ck, ids, tbl.column(EMBEDDING), now, self.emb_dim)
        if self.near:
            near = _near_local(ck, ids, tbl.column("_fgs_wh"), now)
            if near is None:
                return False
        fps = tbl.column("_fgs_fp").to_numpy()
        hist, intra = _exact_local(ck, ids, fps, now)
        if self.near:
            near_hist, near_intra, sig, bkeys = near
            near_keep = ~near_hist & ~near_intra
            _commit_shard(
                ck, NEAR,
                {
                    "band_ledger": pa.table({
                        "bkey": bkeys[near_keep].ravel(),
                        "doc_id": ids.take(np.repeat(np.flatnonzero(near_keep), _NEAR_BANDS)),
                    }),
                    "sig_ledger": pa.table({
                        "doc_id": ids.filter(pa.array(near_keep)),
                        "sig": sig.filter(pa.array(near_keep)),
                    }),
                },
                now, now, self.near_params, None,
                _near_meta(n, int(near_hist.sum()), int(near_intra.sum()), {"epoch": ep}),
            )
            keep &= near_keep
        exact_keep = ~hist & ~intra
        _commit_shard(
            ck, EXACT,
            {"fp_ledger": pa.table({
                "fp": fps[exact_keep], "doc_id": ids.filter(pa.array(exact_keep)),
            })},
            now, now, self.params, None,
            _exact_meta(n, int(hist.sum()), int(intra.sum()), int(exact_keep.sum()),
                        {"epoch": ep}),
            lambda: self._publish_local(tbl.filter(pa.array(keep & exact_keep)), ep, now),
        )
        return True

    def _publish_local(self, out, ep: int, now: int) -> None:
        """The driver path's publish hook over the survivors ``out``:
        the emb state and passage shard commits, the mask, then the
        clean ``_epoch=ep`` partition — the batch's own columns and
        types, written as one file through a hidden-name _swap_dir, so
        a replay replaces exactly its own partition. Like Spark's
        dynamic overwrite, an epoch without survivors writes no
        partition."""
        if self.clean_dir is None:
            return
        ids = out.column("_fgs_id")
        if self.embeddings:
            _emb_commit_local(
                self.checkpoint_dir, ids, out.column(EMBEDDING), now, self.emb_dim,
                self.emb_params, ep,
            )
        names = [c for c in out.schema.names if not c.startswith("_fgs_")]
        cols = [out.column(c) for c in names]
        if self.passages:
            text, removed = _passages_local(
                self.checkpoint_dir, out, now, self.passage_params, ep
            )
            cols[names.index(TEXT)] = text
            names.append("_passage_tokens_removed")
            cols.append(removed)
        os.makedirs(self.clean_dir, exist_ok=True)
        if out.num_rows:
            clean = pa.Table.from_arrays(cols, names=names)

            def write(tmp):
                os.makedirs(tmp)
                _publish(tmp, clean)

            _swap_dir(write, os.path.join(self.clean_dir, f"_epoch={ep}"), hidden=True)

    def _process_spark(self, batch_df, ep: int, now: int) -> None:
        """One trigger as Spark jobs: each family's operator over
        ``batch_df``, in the commit order the driver path mirrors."""
        emb_ann = None
        if self.embeddings:
            # FLAGS ONLY here (update_state=False): semantic state is
            # committed inside publish_clean on the PUBLISHED survivor
            # set, so a doc dropped by exact/near dedup can never
            # leave its vector in history as an unpublished keeper
            # that suppresses future docs (code-review r05 fifth
            # pass — the passages survivor rule, applied here)
            emb_ann = incremental_embedding_dedup(
                self.spark, batch_df, self.checkpoint_dir, now=now,
                dim=self.emb_dim, params=self.emb_params,
                partitions=self.partitions, id_col="doc_id",
                update_state=False,
            )

        near_ann = None
        if self.near:
            # near state commits under its own lineage, before the
            # exact lineage row below (the epoch's final marker)
            near_ann = incremental_near_dup(
                self.spark, batch_df, self.checkpoint_dir, now=now,
                params=self.near_params, partitions=self.partitions,
                meta_extra={"epoch": ep},
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
                .withColumn("_epoch", F.lit(ep))
            )
            if self.embeddings or self.passages:
                # frozen once: the survivor frame feeds the emb state
                # commit, the passage kernel AND the mask
                # (code-review r05 — an uncached self-referential join
                # would re-execute the batch scan + both semi-joins)
                out = out.localCheckpoint(eager=True)
            if self.embeddings:
                # survivor-only semantic state commit (flags were
                # computed on the full batch above), tagged with the
                # epoch for the replay rule
                commit_emb_state(
                    self.spark, out, self.checkpoint_dir, now=now,
                    dim=self.emb_dim, params=self.emb_params, id_col="doc_id",
                    partitions=self.partitions, meta_extra={"epoch": ep},
                )
            if self.passages:
                # passage state commits HERE — survivors only, so
                # every retained passage has a published keeper; own
                # lineage lands strictly before the exact marker
                pann = incremental_passages(
                    self.spark, out, self.checkpoint_dir, now=now,
                    window=_PASSAGE_WINDOW, params=self.passage_params,
                    partitions=self.partitions,
                    meta_extra={"epoch": ep},
                )
                # the survivors are masked in place, each row its own
                # text, with the annotation reused (no second kernel
                # pass)
                drops = pann.where(F.size("hist_positions") > 0).select(
                    F.col("doc_id").alias("_k"), F.col("hist_positions").alias("_drops")
                )
                out = _mask_spans(
                    out.withColumn("_k", F.col("doc_id").cast("string")).join(drops, "_k", "left"),
                    _PASSAGE_WINDOW, "_passage_tokens_removed",
                ).drop("_k")
            # epoch-partitioned dynamic overwrite: a re-run of a
            # half-committed epoch replaces exactly its own partition
            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("_epoch").parquet(self.clean_dir)

        incremental_dedup(
            self.spark, batch_df, self.checkpoint_dir, now=now,
            params=self.params, partitions=self.partitions,
            meta_extra={"epoch": ep}, pre_lineage_hook=publish_clean,
        )

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

def _match_frac(a: str, b: str):
    """The MinHash Jaccard estimate of two signature columns: the
    fraction of the _NEAR_NUM_HASHES positions where they agree."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(_NEAR_NUM_HASHES)


def _near_sigs(new_df: DataFrame) -> DataFrame:
    """A shard's (doc_id string, sig) MinHash signatures at the near
    geometry: _NEAR_NUM_HASHES minhashes of the _NEAR_SHINGLE-word
    shingles of its text."""
    from .dedup import minhash_signatures

    src = new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(TEXT).alias("text"),
        F.lit("").alias("source"),
    )
    return minhash_signatures(
        src, num_hashes=_NEAR_NUM_HASHES, shingle=_NEAR_SHINGLE
    ).select("doc_id", "sig")


def _near_band_keys(sig: DataFrame) -> DataFrame:
    """The (doc_id, bkey) band keys of _near_sigs' signatures:
    _NEAR_BANDS keys per doc, xxhash64(band, bucket) of each band of
    _NEAR_ROWS_PER_BAND rows — what the near sketch and band ledger
    hold (_near_local derives the same bits on the driver)."""
    from .dedup import banded_signatures

    return banded_signatures(sig, _NEAR_BANDS, _NEAR_ROWS_PER_BAND).select(
        "doc_id", F.xxhash64("band", "bucket").alias("bkey")
    )


def near_history_matches(
    spark,
    sig: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float = _NEAR_THRESHOLD,
) -> DataFrame:
    """The LAZY history-match plan of incremental_near_dup — exposed,
    like annotate_against_history, so tools/explain_plans.py can gate
    the REAL operator's physical plan (VERDICT r04 "What's wrong" #1).

    Input: ``sig`` = the new shard's (doc_id, sig) signatures
    (_near_sigs); the band keys are derived from it here, by the
    operator's own _near_band_keys. Output: one row per new doc with a
    retained partner, in the sketch's window, whose signature-match
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
    banded = _near_band_keys(sig)
    probe = _probe(spark, checkpoint_dir, NEAR, banded.select("bkey"), now)
    if probe is None:
        return spark.createDataFrame(
            [], "doc_id string, hist_doc_id string, est_jaccard double"
        )
    hits, w, done = probe
    band_led = _ledger(spark, checkpoint_dir, NEAR, "band_ledger", done, now, w)
    sig_hist = _ledger(spark, checkpoint_dir, NEAR, "sig_ledger", done)
    # candidate pairs: new docs sharing a hit band key with a retained
    # doc. The shard side (banded ⋈ hits — bounded by shard size × hit
    # rate) is broadcast INTO the band-ledger scan, so the O(retained ×
    # bands) ledger is the streamed side and never shuffles
    shard_hits = banded.join(F.broadcast(hits), "bkey")
    cand = (
        band_led.select("bkey", F.col("doc_id").alias("hist_doc_id"))
        .join(F.broadcast(shard_hits), "bkey")
        .select("doc_id", "hist_doc_id")
        .distinct()
    )
    # verify with the minhash Jaccard estimate: fetch the candidate
    # partners' signatures — candidate ids broadcast-semi into the sig
    # ledger's columnar scan, which likewise never shuffles
    hist_ids = cand.select(F.col("hist_doc_id").alias("doc_id")).distinct()
    sig_led = (
        sig_hist
        .join(F.broadcast(hist_ids), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("hist_doc_id"), F.col("sig").alias("hsig"))
    )
    return (
        sig.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(sig_led), "hist_doc_id")
        .select("doc_id", "hist_doc_id",
                _match_frac("sig", "hsig").alias("est_jaccard"))
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
    threshold: float = _NEAR_THRESHOLD,
    params=None,
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
) -> DataFrame:
    """NEAR-duplicate dedup of a new ingest shard (``doc_id``,
    ``text``) against checkpointed history — the MinHash-LSH analogue
    of incremental_dedup, and the same never-re-join-history shape at
    100 TB:

    - history state = a decaying TBF over LSH BAND KEYS (a doc
      contributes 16 keys) + a band ledger (bkey → retained doc,
      30 B/key) + a sig ledger (doc → its 64 minhashes, ~0.5 KB/doc).
      All three are O(retained docs), independent of corpus text size.
      The geometry — 64 minhashes of 3-word shingles, 16 bands of 4
      rows (_NEAR_*) — is fixed: a shard's band keys must be derived
      as history's were, or a shared band misses the sketch.
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

    ``meta_extra`` mirrors incremental_dedup; its key ``epoch`` is
    reserved for StreamingIngestGuard's replay rule (_family_state).
    History is probed at the sketch's own window_ticks.
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver, as in incremental_dedup."""
    # one signature pass, reused below
    sig = _near_sigs(new_df).localCheckpoint(eager=True)

    # ---- history probe over band keys (lazy plan: see
    # near_history_matches — explicitly broadcast shard-side, gated by
    # tools/explain_plans.py check 13) ----
    hist_matches = near_history_matches(spark, sig, checkpoint_dir, now, threshold=threshold)

    # ---- intra-shard near-dups (batch LSH within the new shard) ----
    from .dedup import minhash_lsh_candidates

    intra_cand = minhash_lsh_candidates(sig, _NEAR_BANDS, _NEAR_ROWS_PER_BAND)
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
        .where(_match_frac("sa", "sb") >= threshold)
        .select("doc_a", "doc_b")
    ).localCheckpoint(eager=True)
    # intra_pairs is materialized, so connected_components' bounded
    # read of it is cheap, and an empty or driver-sized pair graph is
    # clustered within that one Spark job: no separate emptiness probe
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
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_near_dup_history").cast("long")).alias("h"),
            F.sum(F.col("is_near_dup_intra").cast("long")).alias("i"),
        ).collect()[0]
        keep = ann.where(
            ~F.col("is_near_dup_history") & ~F.col("is_near_dup_intra")
        ).select("doc_id")
        _commit_shard(
            checkpoint_dir, NEAR,
            {
                "band_ledger": _near_band_keys(sig).join(F.broadcast(keep), "doc_id"),
                "sig_ledger": sig.join(F.broadcast(keep), "doc_id"),
            },
            F.lit(now), now, params, partitions,
            _near_meta(int(counts["n"]), int(counts["h"] or 0), int(counts["i"] or 0),
                       meta_extra),
        )
    return ann


def compact_near_checkpoint(spark, checkpoint_dir: str):
    """Near-dup analogue of compact_dedup_checkpoint: fold every
    completed near shard's band-key sketch rows into ONE shard=-1 row.
    Without it a long-running near-dup ingest re-merges O(shards ×
    payload) sketch rows on every probe. Ledgers and lineage are
    untouched; expire_ledgers handles the ledgers' growth. Safe and
    idempotent any time."""
    return _compact(checkpoint_dir, NEAR)


# --------------------------------------------------------------------
# incremental PASSAGE-level dedup (round 5): repeated-passage masking
# of a new shard against checkpointed history — composes the rolling
# window-fingerprint kernel (dedup.passage_fingerprints) with the
# sketch+ledger incremental machinery above, completing the family:
# exact doc (incremental_dedup) / near doc (incremental_near_dup) /
# sub-document passage (this).
# --------------------------------------------------------------------

def compact_passages_checkpoint(spark, checkpoint_dir: str):
    """Fold completed passage shards' sketch rows into one shard=-1
    row (same protocol as compact_dedup_checkpoint)."""
    return _compact(checkpoint_dir, PASSAGES)


def incremental_passages(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int = _PASSAGE_WINDOW,
    params=None,
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
) -> DataFrame:
    """Flag every ``window``-token span (stride 1, _PASSAGE_STRIDE) of
    a new ingest shard's ``text`` (docs keyed by ``doc_id``) whose
    fingerprint matches a passage RETAINED in checkpointed history —
    without re-joining history text. Returns one row per doc (doc_id,
    n_windows, n_hist_windows, hist_positions): total window count,
    historical-window count, and the positions of historical spans
    (ready for masking — see mask_against_history). Docs shorter than
    ``window`` emit (0, 0, []) — whole-doc dedup owns that regime.

    ``window`` is fixed per checkpoint: each shard's lineage meta
    records its window and stride, and a call with another window than
    the checkpoint's raises ValueError before anything is probed or
    written (_check_geometry) — its fingerprints would never match a
    retained passage.

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
    window fingerprint — O(tokens) for novel text, the honest price of
    passage-granular history (expiry prunes decayed rows). Size
    ``params.capacity`` for the expected retained distinct-fp count,
    not the doc count. Intra-shard repetition is deliberately out of
    scope — run the batch operator (mask_repeated_passages) on the
    shard first, then this against history.
    History is probed at the sketch's own window_ticks.
    ``meta_extra`` mirrors incremental_dedup; its key ``epoch`` is
    reserved for StreamingIngestGuard's replay rule (_family_state).
    ``partitions`` caps the sketch-delta partials the state commit
    collects to the driver, as there."""
    from .dedup import passage_fingerprints

    _check_geometry(checkpoint_dir, PASSAGES, _passage_geometry(window))
    src = new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(TEXT).alias("text"),
    )
    # ONE kernel pass (rollup + positions), frozen so the probe,
    # verify, annotate, and state-update consumers never recompute it
    wf = passage_fingerprints(
        src, window=window, stride=_PASSAGE_STRIDE, with_positions=True
    ).localCheckpoint(eager=True)

    probe = _probe(spark, checkpoint_dir, PASSAGES, wf.select("fp").distinct(), now)
    if probe is not None:
        hits, w, done = probe
        # hit fps (tiny) broadcast into the ledger scan — history
        # filtered in place, never shuffled (the check-12/13 shape)
        verified = (
            _ledger(spark, checkpoint_dir, PASSAGES, "passage_ledger", done, now, w)
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
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum("n_windows").alias("w"),
            F.sum("n_hist_windows").alias("h"),
        ).collect()[0]
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
        # a crash after lineage but before the caller persisted the
        # masked text re-runs against history that now contains this
        # very shard and would mask the entire shard away (code-review
        # r05 #2): see mask_against_history
        _commit_shard(
            checkpoint_dir, PASSAGES, {"passage_ledger": newfp}, F.lit(now), now,
            params, partitions,
            _passage_meta(window, int(counts["n"]), int(counts["w"] or 0),
                          int(counts["h"] or 0), meta_extra),
        )
    return ann


def mask_against_history(spark, new_df: DataFrame, ann: DataFrame,
                         window: int = _PASSAGE_WINDOW) -> DataFrame:
    """Masking front end of incremental_passages: drop every span of
    the new shard that repeats a retained historical passage (history
    keeps its copy — strict drop-ALL-on-the-new-side, the incremental
    complement of mask_repeated_passages' keep-one-corpus-wide).
    ``ann`` is the frame incremental_passages returned for the SAME
    new_df and window, so no second kernel+probe pass runs. Returns
    (doc_id [original type], text_clean, n_tokens_removed).

    Masking and the state commit are separate calls on purpose: a crash
    before the caller persists the masked text makes a re-run see the
    shard's own fps as history and mask everything away (code-review
    r05 #2). So persist the masked text of an ``update_state=False``
    annotation before committing the shard; StreamingIngestGuard's
    epoch tag (the ``meta_extra`` key ``epoch``, reserved for it) keeps
    the shard out of history until its clean output lands."""
    drops = ann.where(F.size("hist_positions") > 0).select(
        F.col("doc_id").alias("_k"), F.col("hist_positions").alias("_drops")
    )
    # shard-sized both sides; no broadcast hint — a boilerplate-heavy
    # shard's drop table can be wide
    return _mask_spans(
        new_df.withColumn("_k", F.col("doc_id").cast("string")).join(drops, "_k", "left"),
        window, "n_tokens_removed",
    ).select("doc_id", F.col(TEXT).alias("text_clean"), "n_tokens_removed")


# --------------------------------------------------------------------
# incremental EMBEDDING-level dedup (round 5): semantic near-duplicate
# detection of a new shard against checkpointed history — the fourth
# granularity of the incremental family (exact doc / near doc /
# passage / semantic), reusing similarity.hyperplane_buckets'
# deterministic seeded planes so bucket keys agree across shards.
# --------------------------------------------------------------------

def compact_emb_checkpoint(spark, checkpoint_dir: str):
    """Fold completed embedding shards' sketch rows into one shard=-1
    row (same protocol as compact_dedup_checkpoint)."""
    return _compact(checkpoint_dir, EMB)


def _emb_bucket_keys(dim: int, bits: int):
    """The emb family's one bucket-key function: ``keys(col)`` maps an
    Arrow list column of n vectors to ``(vecs, bkey)`` — the (n, dim)
    float32 matrix and the n·_EMB_TABLES int64 bucket keys, vector i's
    at [i·tables, (i+1)·tables). The key kernel (_emb_keyed) and the
    verify kernel (_emb_verify) both call it, so bucket keys can never
    drift between them.

    Planes: _EMB_TABLES sets of ``bits`` seeded ±1 hyperplanes
    (similarity._planes, the hyperplane_buckets construction, at seed
    101 + 13·t) stacked into one (tables·bits, dim) matrix, so
    ONE matmul per batch yields every table's projections. A pure
    function of the seed: keys are splitmix64(bucket ⊕ mix(t)),
    deterministic across shards and partitionings. Null and
    wrong-length vectors fail loudly (similarity._vec_matrix)."""
    from ..hashing import splitmix64

    tables = _EMB_TABLES
    planes = np.concatenate([_planes(101 + 13 * t, bits, dim) for t in range(tables)])
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    tsalt = splitmix64(np.arange(tables, dtype=np.uint64) + np.uint64(0xE3B))

    def keys(col):
        vecs = _vec_matrix(col, dim)
        n = len(vecs)
        signs = (vecs @ planes.T > 0).astype(np.int64).reshape(n, tables, bits)
        buckets = (signs * weights).sum(axis=2)           # (n, T)
        with np.errstate(over="ignore"):
            bkey = splitmix64(buckets.astype(np.uint64) ^ tsalt)
        return vecs, bkey.reshape(-1).view(np.int64)

    return keys


def _emb_src_keyed(
    new_df: DataFrame, dim: int, bits: int, id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The emb operators' two shard frames: ``src`` = (vec_id string,
    embedding) and ``keyed`` = (vec_id, bkey), _EMB_TABLES bucket keys
    per vector from ONE mapInArrow pass (all tables in one matmul, and
    the key frame never carries the vectors — code-review r05 third
    pass #3/#4), frozen so probe and state commit never recompute it."""
    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(EMBEDDING).alias("embedding"),
    )
    keys = _emb_bucket_keys(dim, bits)

    def assign(iterator):
        for tbl in iterator:
            yield pa.RecordBatch.from_pydict(_emb_keyed(tbl, keys))

    keyed = src.mapInArrow(assign, schema="vec_id string, bkey long")
    return src, keyed.localCheckpoint(eager=True)


def _emb_keyed(tbl, keys) -> dict:
    """The key kernel's body over one (vec_id, embedding) batch: the
    ``(vec_id, bkey)`` columns, _EMB_TABLES rows per vector."""
    _, bkey = keys(tbl.column("embedding"))
    rows = np.repeat(np.arange(len(tbl), dtype=np.int64), _EMB_TABLES)
    return {
        "vec_id": tbl.column("vec_id").take(pa.array(rows)),
        "bkey": pa.array(bkey, pa.int64()),
    }


def _emb_hist_matches(
    spark, src: DataFrame, keyed: DataFrame, checkpoint_dir: str, now: int,
    threshold: float, dim: int, bits: int,
) -> DataFrame:
    """The LAZY history-match plan of incremental_embedding_dedup —
    sketch probe over bucket keys, bucket-ledger candidate fetch, exact
    cosine verify against the vec ledger. Exposed (via
    emb_annotate_plan) so plan tools can explain the REAL operator."""
    probe = _probe(spark, checkpoint_dir, EMB, keyed.select("bkey"), now)
    if probe is None:
        return spark.createDataFrame(
            [], "vec_id string, hist_vec_id string, cosine double"
        )
    hits, w, done = probe
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
        _ledger(spark, checkpoint_dir, EMB, "bucket_ledger", done, now, w)
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
        _ledger(spark, checkpoint_dir, EMB, "vec_ledger", done)
        .join(F.broadcast(hist_ids_df), "vec_id", "left_semi")
        .select("vec_id", "embedding")
        .toArrow()
    )
    bc_cand = spark.sparkContext.broadcast(_emb_candidates(led_hits, hvec_rows, dim))
    scored = src.mapInArrow(
        _make_emb_verify_udf(bc_cand, threshold, dim, bits),
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


def _emb_candidates(led_hits, hvec_rows, dim: int) -> tuple:
    """The verify kernel's lookup state, from the hit-restricted
    bucket-ledger rows and the candidate partners' ``dim``-float
    vectors: a sorted-bkey CSR (bkey → partner matrix rows) plus the
    float32 vector matrix (similarity._vec_matrix: a null or
    wrong-length ledger vector raises) and its float64 norms. Memory
    bound = O(hit-key ledger rows + candidate partners × dim) — the same
    candidate-restricted set the round-5 plan drove through
    F.broadcast(cand)/F.broadcast(hvecs) JVM relations (which are
    driver-collected too), so the worst-case-re-crawl ceiling noted in
    VERDICT r05 is unchanged, just relocated and paid once instead of
    three times."""
    ids = hvec_rows.column("vec_id").combine_chunks()
    mat = _vec_matrix(hvec_rows.column("embedding").combine_chunks(), dim)
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
    starts = _run_starts(sb)
    uniq_bkeys = sb[starts]
    csr_off = np.append(starts, sb.size).astype(np.int64)
    # ids stay a pyarrow Array end to end: it pickles via Arrow IPC
    # (no 10^5-element Python string list), and the kernel can .take()
    # it directly instead of rebuilding a string array per task
    return uniq_bkeys, csr_off, partner_rows, ids, mat, norms


def _make_emb_verify_udf(bc_cand, threshold: float, dim: int, bits: int):
    """mapInArrow wrapper of the verify kernel (_emb_verify) over the
    bare shard (vec_id, embedding) rows, reading the candidate tuple
    from the broadcast ``bc_cand``."""
    keys = _emb_bucket_keys(dim, bits)

    def verify(iterator):
        cand = bc_cand.value
        for tbl in iterator:
            cols = _emb_verify(tbl, cand, keys, threshold)
            if cols is not None:
                yield pa.RecordBatch.from_pydict(cols)

    return verify


def _emb_verify(tbl, cand: tuple, keys, threshold: float):
    """The verify kernel over one (vec_id, embedding) batch: re-derive
    each vector's _EMB_TABLES bucket keys with the key kernel's own
    function (``keys`` = _emb_bucket_keys — same seeded planes, same
    input guards), look the keys up in the candidate CSR
    (_emb_candidates), gather partner vectors from its matrix, and
    return every (vec_id, hist_vec_id, cosine) pair at cosine >=
    threshold as Arrow columns (None: no pair). All double precision,
    fully vectorized — no per-row Python, no joins, shard vectors cross
    the Arrow boundary exactly once. A partner reachable through
    several tables is scored more than once; the downstream max-per-vec
    aggregation is insensitive to that, and deduplicating here would
    cost a per-batch sort for nothing. Zero-norm guard preserved: an
    all-zero embedding has no direction and never matches anything
    (code-review r05 third pass #1).

    Precision: the shard's vectors are downcast to float32 on purpose
    (an ``array<double>`` input included), because history is stored
    as float32 (the vec ledger's ``array<float>``): both sides of every
    pair round the same way, so an exact re-upload of a double vector
    scores cosine 1 to double precision, and the cosine itself is
    accumulated in float64. A pair whose float64 cosine lies within
    float32 rounding of ``threshold`` may land on either side of it —
    the same either way a vector enters history."""
    uniq_bkeys, csr_off, partner_rows, id_arr, mat, hnorms = cand
    n = len(tbl)
    if n == 0 or uniq_bkeys.size == 0:
        return None
    evec, kf = keys(tbl.column("embedding"))
    pos = np.searchsorted(uniq_bkeys, kf)
    pos[pos == uniq_bkeys.size] = 0  # clamp; equality check below
    found = uniq_bkeys[pos] == kf
    cnt = np.where(found, csr_off[pos + 1] - csr_off[pos], 0)
    total = int(cnt.sum())
    if total == 0:
        return None
    out_off = np.concatenate([np.zeros(1, np.int64), np.cumsum(cnt)])
    idxs = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_off[:-1], cnt)
        + np.repeat(np.where(found, csr_off[pos], 0), cnt)
    )
    pidx = partner_rows[idxs].astype(np.int64)
    rows = np.repeat(np.arange(n * _EMB_TABLES, dtype=np.int64) // _EMB_TABLES, cnt)
    e64 = evec.astype(np.float64)
    enorm = np.sqrt((e64 * e64).sum(axis=1))
    dots = (e64[rows] * mat[pidx].astype(np.float64)).sum(axis=1)
    nprod = enorm[rows] * hnorms[pidx]
    posn = nprod > 0
    cos = np.full(rows.size, -1.0)
    cos[posn] = dots[posn] / nprod[posn]
    keep = cos >= threshold
    if not keep.any():
        return None
    return {
        "vec_id": tbl.column("vec_id").take(pa.array(rows[keep])),
        "hist_vec_id": id_arr.take(pa.array(pidx[keep])),
        "cosine": pa.array(cos[keep], pa.float64()),
    }


def _emb_annotate(
    spark, new_df, checkpoint_dir, now, dim, threshold, bits, id_col,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(src, keyed, lazy annotated plan) — the probe half shared by
    emb_annotate_plan and incremental_embedding_dedup."""
    _check_geometry(checkpoint_dir, EMB, _emb_geometry(bits, dim))
    src, keyed = _emb_src_keyed(new_df, dim, bits, id_col)
    hist_matches = _emb_hist_matches(
        spark, src, keyed, checkpoint_dir, now, threshold, dim, bits,
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
    )
    return src, keyed, ann


def emb_annotate_plan(
    spark, new_df: DataFrame, checkpoint_dir: str, now: int, dim: int,
) -> DataFrame:
    """The LAZY annotated-flags plan incremental_embedding_dedup
    materializes at its defaults — exposed, like
    annotate_against_history / near_history_matches, so plan tools can
    .explain() the real operator. Callers who want the flags should
    use incremental_embedding_dedup(update_state=False): this raw plan
    re-reads the checkpoint on every action."""
    return _emb_annotate(
        spark, new_df, checkpoint_dir, now, dim, _EMB_THRESHOLD, _EMB_BITS, "vec_id"
    )[2]


def incremental_embedding_dedup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    threshold: float = _EMB_THRESHOLD,
    bits: int = _EMB_BITS,
    params=None,
    id_col: str = "vec_id",
    partitions: int | None = None,
    update_state: bool = True,
) -> DataFrame:
    """Flag every vector of a new ingest shard (its ``embedding``
    column, keyed by ``id_col``) whose cosine similarity to a RETAINED
    historical vector in the sketch's window is >= ``threshold`` —
    without re-joining history. Returns (vec_id, is_emb_dup_history,
    hist_vec_id, cosine), one row per input vector (hist_vec_id /
    cosine = the best historical match).

    History state: a decaying membership sketch over hyperplane-LSH
    BUCKET KEYS (8 independent seeded plane sets, _EMB_TABLES, of
    ``bits`` sign bits each; a vector contributes 8 keys, deterministic
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
    incremental_passages). ``bits`` must match the checkpoint's
    (_check_geometry). ``partitions`` caps the sketch-delta partials
    the state commit collects to the driver, as in incremental_dedup."""
    src, keyed, ann = _emb_annotate(
        spark, new_df, checkpoint_dir, now, dim, threshold, bits, id_col,
    )
    ann = ann.localCheckpoint(eager=True)

    if update_state:
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_emb_dup_history").cast("long")).alias("h"),
        ).collect()[0]
        n, h = int(counts["n"]), int(counts["h"] or 0)
        keep = ann.where(~F.col("is_emb_dup_history")).select("vec_id")
        _commit_shard(
            checkpoint_dir, EMB,
            {
                "bucket_ledger": keyed.join(F.broadcast(keep), "vec_id"),
                "vec_ledger": src.join(F.broadcast(keep), "vec_id"),
            },
            F.lit(now), now, params, partitions, _emb_meta(bits, dim, n, h),
        )
    return ann


def commit_emb_state(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    params=None,
    id_col: str = "vec_id",
    partitions: int | None = None,
    meta_extra: dict | None = None,
) -> None:
    """Append ``new_df``'s vectors to the emb history WITHOUT probing
    — the survivor-commit half of a split flag-then-publish protocol:
    annotate the full batch with update_state=False, decide what gets
    published, then commit exactly the published set here (the guard's
    embeddings mode does this; committing unpublished vectors would
    let them suppress future docs with no published keeper —
    code-review r05 fifth pass #1, the passages survivor-keeper rule
    applied to the semantic half). The geometry is the default
    (_EMB_BITS) and must match the checkpoint's (validated, like the
    probe path).
    ``partitions`` caps the sketch-delta partials the commit collects
    to the driver, as in incremental_dedup. The ``meta_extra`` key
    ``epoch`` is reserved for StreamingIngestGuard's replay rule."""
    _check_geometry(checkpoint_dir, EMB, _emb_geometry(_EMB_BITS, dim))
    src, keyed = _emb_src_keyed(new_df, dim, _EMB_BITS, id_col)
    _commit_shard(
        checkpoint_dir, EMB, {"bucket_ledger": keyed, "vec_ledger": src},
        F.lit(now), now, params, partitions,
        _emb_meta(_EMB_BITS, dim, int(src.count()), 0, meta_extra),
    )


# --------------------------------------------------------------------
# the guard's driver path: a trigger whose batch fits _LOCAL_TRIGGER_ROWS
# runs every family over ONE bounded Spark read, in Arrow on the driver
# --------------------------------------------------------------------

def _local_type(t) -> bool:
    if isinstance(t, ArrayType):
        t = t.elementType
    return isinstance(t, _LOCAL_SCALARS)


def _read_local(batch_df: DataFrame, text_col: str, wh: bool, words: bool):
    """The guard's one bounded read of a batch (dedup._read_bounded),
    as one Arrow RecordBatch: the batch's own columns plus what the
    families derive from them, computed by the JVM — the string doc id
    (``_fgs_id``), the exact fingerprint xxhash64(text) (``_fgs_fp``),
    and when asked the word hashes (``_fgs_wh``) and the words and
    their count for the mask (``_fgs_words``, ``_fgs_nw``) — so each
    equals the Spark path's value by construction, null and empty text
    included.

    None — take the Spark path — when a column's type is not one of
    _LOCAL_SCALARS or an array of one, the text is not a string, the
    batch has more than _LOCAL_TRIGGER_ROWS rows, or its doc ids are
    not unique and non-null (process_batch then refuses the batch)."""
    if not all(_local_type(f.dataType) for f in batch_df.schema.fields):
        return None
    cols = [
        *[F.col("`" + c.replace("`", "``") + "`") for c in batch_df.columns],
        F.col("doc_id").cast("string").alias("_fgs_id"),
        F.xxhash64(F.col(text_col)).alias("_fgs_fp"),
    ]
    return _read_bounded(batch_df, cols, "_fgs_id", text_col, _LOCAL_TRIGGER_ROWS, None, wh, words)


def _exact_local(checkpoint_dir: str, ids, fps: np.ndarray, now: int):
    """annotate_against_history's flags over a driver-held batch
    (unique string ids, int64 fingerprints): ``(is_dup_history,
    is_dup_intra)``. Same rules: a history dup's fp is in the sketch
    AND in an fp-ledger row of a history shard inside the window; an
    intra dup is any other doc that is not its fp's min doc id."""
    hist = np.zeros(len(ids), bool)
    probe = _probe_local(checkpoint_dir, EXACT, fps, now)
    if probe is not None and probe[0].size:
        hits, w, done = probe
        led = _ledger_local(checkpoint_dir, EXACT, "fp_ledger", done, "fp",
                            pa.array(hits), ["fp"], now, w)
        hist = np.isin(fps, led.column("fp").to_numpy())
    order = np.lexsort((_id_rank(ids), fps))
    first = np.zeros(len(ids), bool)
    first[order[_run_starts(fps[order])]] = True
    return hist, ~hist & ~first


def _lsh_pairs(buckets: np.ndarray, rank: np.ndarray):
    """minhash_lsh_candidates over a (docs, bands) bucket matrix: the
    distinct doc pairs ``(a, b)`` (row indices, ``rank[a] < rank[b]``)
    sharing a (band, bucket), or None when there are more than
    _LOCAL_NEAR_PAIRS of them before the distinct."""
    n, bands = buckets.shape
    band, bucket = np.tile(np.arange(bands), n), buckets.ravel()
    doc = np.repeat(np.arange(n), bands)
    order = np.lexsort((bucket, band))
    starts = _run_starts(band[order], bucket[order])
    sizes = np.diff(np.append(starts, order.size))
    if int((sizes * (sizes - 1) // 2).sum()) > _LOCAL_NEAR_PAIRS:
        return None
    # each element of a run pairs with the run's later elements
    cnt = np.repeat(starts + sizes, sizes) - 1 - np.arange(order.size)
    left = np.repeat(np.arange(order.size), cnt)
    right = left + 1 + np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    da, db = doc[order][left], doc[order][right]
    swap = rank[da] > rank[db]
    da, db = np.where(swap, db, da), np.where(swap, da, db)
    code = np.unique(da * n + db)
    return code // n, code % n


def _near_local(checkpoint_dir: str, ids, wh, now: int):
    """incremental_near_dup's flags over a driver-held batch, at the
    guard's geometry (_NEAR_*):
    ``(is_dup_history, is_dup_intra, sig, bkeys)`` with the signature
    column and the (docs, bands) band keys the commit appends — or None
    when the batch has more than _LOCAL_NEAR_PAIRS intra-batch
    candidate pairs. Same rules: band keys are _near_band_keys'
    xxhash64(band, xxhash64(slice(sig))) bit for bit
    (dedup._band_buckets); a history dup shares a sketch-hit band key
    with a retained in-window doc whose signature match fraction
    reaches the threshold; an intra dup is any other doc that is not
    the min id of its cluster — connected components over the doc pairs
    sharing a (band, bucket) whose match fraction reaches the
    threshold."""
    from .dedup import _band_buckets, _cc_rounds, _minhash_sigs, _sig_list

    threshold, num_hashes, bands = _NEAR_THRESHOLD, _NEAR_NUM_HASHES, _NEAR_BANDS
    n = len(ids)
    sigs = _minhash_sigs(wh, num_hashes, _NEAR_SHINGLE)
    buckets = _band_buckets(sigs, bands, _NEAR_ROWS_PER_BAND)
    bkeys = spark_xxhash64(
        np.tile(np.arange(bands, dtype=np.int32), n), buckets.ravel()
    ).reshape(n, bands)
    pairs = _lsh_pairs(buckets, _id_rank(ids))
    if pairs is None:
        return None
    a, b = pairs
    a, b = (x[(sigs[a] == sigs[b]).sum(axis=1) / num_hashes >= threshold] for x in (a, b))
    intra = np.zeros(n, bool)
    if a.size:
        nodes, comps, _ = _cc_rounds(pa.table({"a": ids.take(a), "b": ids.take(b)}))
        intra = pc.is_in(ids, value_set=nodes.filter(pc.not_equal(nodes, comps))).to_numpy(
            zero_copy_only=False
        )

    hist = np.zeros(n, bool)
    probe = _probe_local(checkpoint_dir, NEAR, bkeys.ravel(), now)
    if probe is not None and probe[0].size:
        hits, w, done = probe
        hit = np.isin(bkeys.ravel(), hits)
        band_led = _ledger_local(checkpoint_dir, NEAR, "band_ledger", done, "bkey",
                                 pa.array(hits), ["bkey", "doc_id"], now, w)
        cand = (
            pa.table({"bkey": bkeys.ravel()[hit], "row": np.repeat(np.arange(n), bands)[hit]})
            .join(band_led, "bkey", join_type="inner")
            .group_by(["row", "doc_id"]).aggregate([])
        )
        sig_led = _ledger_local(checkpoint_dir, NEAR, "sig_ledger", done, "doc_id",
                                pc.unique(cand.column("doc_id")), ["doc_id", "sig"])
        # every ledger signature of every candidate partner (a retried
        # shard may have appended a doc twice)
        sig_led = sig_led.append_column("i", pa.array(np.arange(sig_led.num_rows)))
        cand = cand.join(sig_led.select(["doc_id", "i"]), "doc_id", join_type="inner")
        hsig = sig_led.column("sig").combine_chunks().take(cand.column("i").to_numpy())
        ok = pc.list_value_length(hsig).to_numpy(zero_copy_only=False) == num_hashes
        rows = cand.column("row").to_numpy()[ok]
        mat = pc.list_flatten(hsig.filter(pa.array(ok))).to_numpy().reshape(-1, num_hashes)
        hist[rows[(sigs[rows] == mat).sum(axis=1) / num_hashes >= threshold]] = True
    return hist, ~hist & intra, _sig_list(sigs), bkeys


def _emb_flags_local(checkpoint_dir: str, ids, vecs, now: int, dim: int) -> np.ndarray:
    """incremental_embedding_dedup's is_emb_dup_history over a
    driver-held batch, at the guard's geometry (_EMB_*): the sketch-hit
    bucket-ledger rows and the candidates' vectors feed the verify
    kernel (_emb_verify) directly — the same candidate state the Spark
    path broadcasts. The guard checked the geometry at the trigger's
    start."""
    keys = _emb_bucket_keys(dim, _EMB_BITS)
    _, bkey = keys(vecs)  # the key kernel's null / ragged guards
    dup = np.zeros(len(ids), bool)
    probe = _probe_local(checkpoint_dir, EMB, bkey, now)
    if probe is None or not probe[0].size:
        return dup
    hits, w, done = probe
    led_hits = _ledger_local(
        checkpoint_dir, EMB, "bucket_ledger", done, "bkey", pa.array(hits),
        ["bkey", "vec_id"], now, w,
    ).rename_columns(["bkey", "hist_vec_id"])
    hvec_rows = _ledger_local(checkpoint_dir, EMB, "vec_ledger", done, "vec_id",
                              pc.unique(led_hits.column("hist_vec_id")),
                              ["vec_id", "embedding"])
    src = pa.RecordBatch.from_arrays([ids, vecs], ["vec_id", "embedding"])
    scored = _emb_verify(src, _emb_candidates(led_hits, hvec_rows, dim), keys, _EMB_THRESHOLD)
    if scored is not None:
        dup = pc.is_in(ids, value_set=scored["vec_id"]).to_numpy(zero_copy_only=False)
    return dup


def _emb_commit_local(checkpoint_dir: str, ids, vecs, now: int, dim: int, params,
                      ep: int) -> None:
    """commit_emb_state over the driver-held survivors of epoch ``ep``,
    at the guard's geometry (_EMB_*)."""
    src = pa.RecordBatch.from_arrays([ids, vecs], ["vec_id", "embedding"])
    _commit_shard(
        checkpoint_dir, EMB,
        {
            "bucket_ledger": pa.table(_emb_keyed(src, _emb_bucket_keys(dim, _EMB_BITS))),
            "vec_ledger": pa.Table.from_batches([src]),
        },
        now, now, params, None, _emb_meta(_EMB_BITS, dim, len(ids), 0, {"epoch": ep}),
    )


def _passages_local(checkpoint_dir: str, out, now: int, params, ep: int):
    """incremental_passages (at the guard's geometry, _PASSAGE_WINDOW
    and _PASSAGE_STRIDE) then mask_against_history over the driver-held
    survivors ``out`` (a _read_local batch) of epoch ``ep``: commits
    the passage shard and returns the masked text and n_tokens_removed
    columns. Same rules: a history window's fp is in the sketch AND in
    a passage-ledger row of a history shard inside the window; a new
    fp enters history through its first occurrence that overlaps no
    history window of its doc, keeper = min (doc_id, pos); the mask
    drops every word of every history window."""
    from .dedup import _passage_rollup

    window = _PASSAGE_WINDOW
    ids, n = out.column("_fgs_id"), out.num_rows
    rows = _passage_rollup(
        pa.RecordBatch.from_arrays([pa.array(np.arange(n)), out.column("_fgs_wh")],
                                   ["doc_id", "wh"]),
        window, _PASSAGE_STRIDE, with_positions=True,
    )
    if rows is None:
        row = fp = pos = np.zeros(0, np.int64)
        sizes = np.zeros(0, np.int64)
    else:
        row, fp = rows["doc_id"].to_numpy(), rows["fp"].to_numpy()
        pos = rows["pos_list"].values.to_numpy().astype(np.int64)
        sizes = np.diff(rows["pos_list"].offsets.to_numpy())
    verified = np.zeros(0, np.int64)
    probe = _probe_local(checkpoint_dir, PASSAGES, fp, now)
    if probe is not None and probe[0].size:
        hits, w, done = probe
        verified = _ledger_local(checkpoint_dir, PASSAGES, "passage_ledger", done, "fp",
                                 pa.array(hits), ["fp"], now, w).column("fp").to_numpy()
    hist_row = np.isin(fp, verified)
    # one entry per window occurrence: its (fp row, doc, position)
    owner = np.repeat(np.arange(row.size), sizes)
    pdoc = row[owner]
    is_hist = hist_row[owner]
    hd, hp = pdoc[is_hist], pos[is_hist]
    o = np.lexsort((hp, hd))
    hd, hp = hd[o], hp[o]
    # an occurrence overlaps a history window of its doc iff the
    # nearest one on either side starts less than ``window`` away
    span = np.int64(1) << 32
    hkey = hd * span + hp
    i = np.searchsorted(hkey, pdoc * span + pos)
    overlap = np.zeros(pos.size, bool)
    if hkey.size:
        for j in (i - 1, i):
            jj = np.clip(j, 0, hkey.size - 1)
            overlap |= (j >= 0) & (j < hkey.size) & (hd[jj] == pdoc) & (
                np.abs(hp[jj] - pos) < window)
    # new fps: each fp row's first clean occurrence (positions ascend
    # per row), keeper = min (doc_id, pos) per fp
    c_owner, c_pos = owner[~overlap], pos[~overlap]
    s = _run_starts(c_owner)
    k_row, k_pos = c_owner[s], c_pos[s]
    new = ~hist_row[k_row]
    k_row, k_pos = k_row[new], k_pos[new]
    order = np.lexsort((k_pos, _id_rank(ids)[row[k_row]], fp[k_row]))
    keep = order[_run_starts(fp[k_row][order])]
    _commit_shard(
        checkpoint_dir, PASSAGES,
        {"passage_ledger": pa.table({
            "fp": pa.array(fp[k_row][keep], pa.int64()),
            "keep_doc": ids.take(pa.array(row[k_row][keep])),
            "keep_pos": pa.array(k_pos[keep], pa.int32()),
        })},
        now, now, params, None,
        _passage_meta(window, n, int(sizes.sum()), int(is_hist.sum()), {"epoch": ep}),
    )

    # the mask (dedup._mask_spans): drop the words [p, p + window) of
    # every history window p
    return _mask_words(out.column("_fgs_words"), out.column("_fgs_nw"), hd, hp, window)
