"""Checkpointed, resumable builds with per-shard lineage
(SURVEY.md §3.3; BASELINE.json:6 "per-partition lineage rows and
checkpointed sketch state for resumable runs"), the shard log every
sharded checkpoint commits through, and the checkpoint store beneath
it.

Granularity: build_resumable splits the input into ``n_shards``
deterministic shards by ``pmod(xxhash64(doc_id), n_shards)``. Each
shard is one ``build_sketches(...).collect()``; the driver splits the
collected rows into the shard's sketch rows and its per-partition
lineage rows and commits them as one shard of a ShardLog. Resume lists
completed shard ids from lineage and skips them — a killed run re-does
at most one shard.

The shard log (ShardLog) is a directory holding ``sketch_state/``, rows
``(spec, group, payload, n_items, shard)``, and ``lineage/``, one row
``(shard, meta)`` per completed shard. A resumable build is one log;
each of the four incremental dedup families (dataops.incremental) is
one more, under its own subdirectory. Its protocol:

- commit: the shard's state rows first, then the caller's own writes
  that must be durable with the shard (a family's ledgers, the guard's
  clean output), then the lineage row LAST. A shard is complete once
  its lineage row is visible, and by then everything before it is.
- load: only the rows of completed shards, plus the shard=-1 rows a
  compaction wrote, are merged. A crash before the lineage row leaves
  orphan state rows that every load ignores and the retry re-commits.
- compaction: folds that same load into one shard=-1 row per (spec,
  group) and swaps the state directory in; lineage is untouched, so
  the folded shards stay complete. Because the fold is lineage-gated
  too, an orphan is never folded in and then rebuilt by a resume,
  which would double-count every additive sketch.
- ``done(exclude_epoch)`` leaves out the shards whose meta carries
  that stream epoch: when a multi-family guard crashes after one
  family committed the epoch but before the final marker, the replay
  must not treat that family's own half-epoch output as history (every
  doc would be flagged a duplicate of itself). A shard=-1 row never
  holds such a shard, because compaction only runs after an epoch
  fully commits.

The log's owner picks one of two merge rules:

- additive (resumable builds: CMS counts, HLL registers, t-digest
  centroids add up): a retried shard can leave its orphan's rows next
  to the retry's under the same shard id, so one row per (spec, group,
  shard) is kept, the one with the largest n_items, before merging;
- union (the incremental families' membership sketches): every row is
  merged. Picking one row per shard could keep a crashed attempt's row
  and drop the retry's keys — a silently missed duplicate forever —
  while a union-only monoid is one-sided safe under over-merging: an
  orphan's extra keys only create sketch hits that the exact ledger
  verification rejects, and n_items (advisory there) may over-count.

The checkpoint store (shared with dataops.incremental and
streaming.StreamingSketchBuilder): sketch state, lineage, streaming
versions and the guard's driver-path ledger appends and clean
partitions are committed and read FROM THE DRIVER with pyarrow, never
through a Spark job. _commit_row (a few rows) and _commit_table
(shard-sized rows, typed from a Spark DDL) write a parquet file under a
'_'-prefixed temp name and publish it with an atomic ``os.replace``
(both pyarrow.dataset and Spark's reader skip '_' files, so a crash
leaves an invisible temp, never a torn part); _pa_read_table reads a
directory back. The incremental operators' Spark plans still append
their ledgers with Spark writes, into the same directories. _swap_dir
replaces a whole directory (compaction, expiry, a streaming version)
by a two-rename swap, _live resolves the ``_old`` copy a crash between
those renames leaves, and _heal_swap restores it before an append. The
layout assumes a filesystem path — on an object store, replace the
renames with a manifest swap (Iceberg snapshot commit).

At cluster scale, shards double as a unit of incremental ingest: a new
partition of an Iceberg table is just one more shard appended to the
same checkpoint.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections import Counter
from typing import NamedTuple

from .pipeline import LINEAGE_SPEC, SketchSpec, build_sketches, merge_rows_to_sketches

# pyarrow types of the checkpoint artifacts' columns: state rows
# (spec, group, payload, n_items[, shard]) and lineage rows
# (shard, meta) — the types Spark's writer gives the same DDL, so
# driver- and Spark-written parts of one directory share one schema
_ARTIFACT_TYPES = {
    "spec": "string", "group": "string", "payload": "binary",
    "n_items": "int64", "shard": "int32", "meta": "string",
}


def _live(path: str) -> str:
    """``path``, or its ``_old`` copy when a crash struck between
    _swap_dir's two renames and left only that copy."""
    if not os.path.exists(path) and os.path.exists(path + "_old"):
        return path + "_old"
    return path


def _swap_dir(write_fn, path: str, hidden: bool = False) -> None:
    """Atomic-enough directory replacement: write_fn(tmp) produces the
    replacement, then the two-rename swap leaves either the old dir,
    the _old fallback, or the new dir visible at every crash point
    (_live resolves all three).

    ``hidden=True`` names the replacement and the aside copy with a
    leading '.', which every parquet reader skips — for a directory
    that is itself a partition ``k=v`` of a dataset, where ``k=v_old``
    would be read as one more partition. Nothing falls back to a hidden
    aside copy: its owner re-runs the write."""
    head, leaf = os.path.split(path)
    if hidden:
        tmp, old = os.path.join(head, f".{leaf}_swapping"), os.path.join(head, f".{leaf}_old")
    else:
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
    the _old copy exists, restore it as the primary. An append would
    otherwise recreate the primary directory containing ONLY the new
    rows — _live then prefers it, shadowing the whole history in _old,
    and the next swap rmtree's _old forever (code-review r05). Readers
    never heal (no mutation on a query path); every appending writer
    must call this first."""
    if _live(path) != path:
        os.rename(path + "_old", path)


def _pa_read_table(path: str, columns=None, filter=None, schema=None):
    """Driver-side parquet read via pyarrow — NO Spark job. Checkpoint
    artifacts are small and read on every ingest, probe and resume; a
    Spark job per read (plan + schedule + collect through py4j) costs
    more than the read (round 6, guide §5: the driver should do almost
    no data work). pyarrow.dataset skips '_'-prefixed files (_SUCCESS,
    _commit_row's temps) exactly as Spark's reader does. ``filter`` (a
    pyarrow.dataset expression) is applied while scanning, so only
    matching rows are held; ``schema`` (e.g. _ddl_schema of a ledger)
    reads Spark- and driver-written parts of one directory as one
    schema."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", schema=schema).to_table(
        columns=columns, filter=filter
    )


def _publish(path: str, table) -> None:
    """Write ``table`` into the existing directory ``path`` as one
    parquet file: under a '_'-prefixed name, then ``os.replace``d to
    its final name — the rename is atomic, so the rows appear all at
    once or not at all. Only columns whose values repeat (at most half
    of them distinct: a tick, a shard id, a doc id repeated per key)
    are dictionary-encoded. On near-unique columns — hashes, vectors,
    texts, payloads — a dictionary only adds bytes, and pyarrow, unlike
    Spark's writer, does not fall back from it, so a driver-written
    ledger would be larger than the same rows written by Spark."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "_" + name)
    pq.write_table(table, tmp, use_dictionary=[
        c for c, col in zip(table.column_names, table.columns)
        if not pa.types.is_list(col.type) and 2 * pc.count_distinct(col).as_py() <= len(col)
    ])
    os.replace(tmp, os.path.join(path, name))


def _commit_row(path: str, *rows: dict, **row) -> None:
    """Append rows — several dicts, or one row as keywords — to the
    parquet directory ``path`` as ONE file, from the driver (_publish).
    A ``createDataFrame(...).write`` of a few rows is a Python-RDD job
    whose tasks each pay the worker's fixed start-up cost; pyarrow
    writes the same rows in-process with no Spark job at all.

    Column order follows the first row; types follow _ARTIFACT_TYPES.
    ``path`` is created even when there are no rows."""
    import pyarrow as pa

    rows = rows or (row,)
    os.makedirs(path, exist_ok=True)
    if not rows[0]:
        return
    _publish(path, pa.table({
        k: pa.array([r[k] for r in rows], type=getattr(pa, _ARTIFACT_TYPES[k])())
        for k in rows[0]
    }))


def _ddl_type(t: str):
    import pyarrow as pa

    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_ddl_type(t[6:-1]))
    return {
        "boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
        "float": pa.float32(), "double": pa.float64(), "string": pa.string(),
        "binary": pa.binary(),
    }[t]


def _ddl_schema(ddl: str):
    """The pyarrow schema of a flat Spark DDL string (``"fp long,
    doc_id string, sig array<long>"``) — the types Spark's writer gives
    those columns."""
    import pyarrow as pa

    # flat DDLs only: no struct type, so ", " separates columns
    return pa.schema([
        pa.field(name, _ddl_type(t)) for name, t in (c.split(" ", 1) for c in ddl.split(", "))
    ])


def _commit_table(path: str, table, ddl: str) -> None:
    """Append the rows of the pyarrow ``table`` to the parquet
    directory ``path`` as ONE file from the driver (_publish) —
    _commit_row's sibling for shard-sized rows such as ledger appends.
    Columns are selected in ``ddl`` order and cast to its types, so the
    file reads back through ``spark.read.schema(ddl)`` like a part
    Spark wrote. A table with no rows still writes its typed, empty
    file, as Spark's writer does, so a schema-less read of the
    directory keeps working."""
    schema = _ddl_schema(ddl)
    os.makedirs(path, exist_ok=True)
    _publish(path, table.select(schema.names).cast(schema))


class ShardLog(NamedTuple):
    """The shard log rooted at ``root`` (see the module docstring).
    ``additive`` is its merge rule: True for a resumable build's
    additive sketches, False for the incremental families' union-only
    membership sketches."""

    root: str
    additive: bool

    @property
    def state(self) -> str:
        return os.path.join(self.root, "sketch_state")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")

    def metas(self) -> list[dict]:
        """The lineage metas of the completed shards, in shard order. A
        missing lineage dir means no shard completed; an unreadable part
        raises rather than silently rebuilding every shard."""
        if not os.path.exists(self.lineage):
            return []
        metas = _pa_read_table(self.lineage, columns=["meta"]).column("meta").to_pylist()
        return sorted((json.loads(m) for m in metas), key=lambda m: m["shard"])

    def done(self, exclude_epoch=None) -> list[int]:
        """Completed shard ids, without the shards an earlier attempt of
        stream epoch ``exclude_epoch`` committed."""
        return [
            int(m["shard"])
            for m in self.metas()
            if exclude_epoch is None or m.get("epoch") != int(exclude_epoch)
        ]

    def commit(self, shard: int, state_rows: list[dict], meta: dict,
               before_lineage=None) -> None:
        """Commit shard ``shard`` in the log's order: _heal_swap the
        state dir, append ``state_rows`` (spec, group, payload, n_items;
        none, no file), run ``before_lineage()``, then write the lineage
        row ``{**meta, "shard": shard}``."""
        _heal_swap(self.state)
        if state_rows:
            _commit_row(self.state, *({**r, "shard": int(shard)} for r in state_rows))
        if before_lineage is not None:
            before_lineage()
        _commit_row(
            self.lineage, shard=int(shard),
            meta=json.dumps({**meta, "shard": int(shard)}, sort_keys=True),
        )

    def load(self, done: list[int], with_raw: bool = False) -> dict:
        """{(spec, group): sketch} merged by the log's merge rule from
        the rows of the completed shards ``done`` and the shard=-1
        rows, read through _live; {} when ``done`` is empty.

        ``with_raw=True`` maps each key to ``(sketch, payload)``:
        ``payload`` is the stored bytes when exactly one row made up
        the sketch (else None), so a probe can broadcast them as they
        are instead of paying a zlib re-compress of the bucket array
        (round 6; post-compaction steady state is exactly one row)."""
        path = _live(self.state)
        if not done or not os.path.exists(path):
            return {}
        ok = set(done) | {-1}
        rows = [r for r in _pa_read_table(path).to_pylist() if r["shard"] in ok]
        if self.additive:
            best: dict = {}
            for r in rows:
                key = (r["spec"], r["group"], r["shard"])
                if key not in best or r["n_items"] > best[key]["n_items"]:
                    best[key] = r
            rows = [best[k] for k in sorted(best)]
        sketches = merge_rows_to_sketches(rows)
        if not with_raw:
            return sketches
        n = Counter((r["spec"], r["group"]) for r in rows)
        raw = {(r["spec"], r["group"]): r["payload"] for r in rows}
        return {k: (sk, raw[k] if n[k] == 1 else None) for k, sk in sketches.items()}

    def compact(self, fold=None) -> dict:
        """Swap in one shard=-1 row per (spec, group): the load over
        every completed shard, mapped by ``fold`` (dict to dict) when
        given. Returns the rows' sketches; {}, writing nothing, when the
        load is empty."""
        sketches = self.load(self.done())
        if not sketches:
            return sketches
        if fold is not None:
            sketches = fold(sketches)
        rows = [
            {"spec": spec, "group": group, "payload": sk.to_bytes(),
             "n_items": int(sk.n_items), "shard": -1}
            for (spec, group), sk in sorted(sketches.items())
        ]
        # the load above read the _old copy if a previous compaction
        # crashed mid-swap; _swap_dir keeps it until the new state is in
        _swap_dir(lambda tmp: _commit_row(tmp, *rows), self.state)
        return sketches


def completed_shards(spark, checkpoint_dir: str, expect_n_shards: int | None = None) -> set[int]:
    """Shard ids with durable lineage. When ``expect_n_shards`` is
    given, refuses to resume a checkpoint built with a different shard
    count — shard membership is pmod(hash, n_shards), so mixing counts
    would re-process documents already covered by completed shards and
    double-count every additive sketch (ShardLog.metas)."""
    metas = ShardLog(checkpoint_dir, additive=True).metas()
    if expect_n_shards is not None and metas:
        recorded = metas[0].get("n_shards")
        if recorded != expect_n_shards:
            raise ValueError(
                f"checkpoint was built with n_shards={recorded}; resuming with "
                f"n_shards={expect_n_shards} would double-count — use the original value"
            )
    return {m["shard"] for m in metas}


def build_resumable(
    spark,
    df,
    specs: list[SketchSpec],
    checkpoint_dir: str,
    n_shards: int = 8,
    tick_col=None,
    partitions: int | None = None,
):
    """Build shard-by-shard with checkpointing; safe to re-invoke after
    a crash — completed shards (those with a lineage row) are skipped.
    Each shard is one build_sketches run, grouped by ``source``.
    Returns the merged final sketches as {(spec, group): sketch}.
    """
    from pyspark.sql import functions as F

    from .pipeline import corpus_digest, lineage_from_rows

    log = ShardLog(checkpoint_dir, additive=True)
    done = completed_shards(spark, checkpoint_dir, expect_n_shards=n_shards)
    shard_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")

    for shard in range(n_shards):
        if shard in done:
            continue
        sub = df.where(shard_col == shard)
        rows = build_sketches(sub, specs, tick_col=tick_col, partitions=partitions).collect()
        lin_rows = [r for r in rows if r["spec"] == LINEAGE_SPEC]
        # shard-level audit lineage (SURVEY §3.3, round 3): exact
        # per-shard row/token totals + ingest digest from the build's
        # per-partition lineage rows, plus the file-level provenance of
        # the scan. Hash shards read every input file (membership is
        # pmod(hash, n_shards)), so input_files is the full file set
        # per shard — plan metadata, not an extra data pass; empty for
        # non-file-backed frames.
        lin = lineage_from_rows(lin_rows)
        meta = {
            "n_shards": n_shards,
            "specs": [s.name for s in specs],
            "n_rows": sum(e["n_rows"] for e in lin),
            "n_tokens": sum(e["n_tokens"] for e in lin),
            "token_digest": corpus_digest(lin_rows),
            "input_files": sorted(sub.inputFiles()),
        }
        log.commit(shard, [
            {"spec": r["spec"], "group": r["group"], "payload": bytes(r["payload"]),
             "n_items": r["n_items"]}
            for r in rows if r["spec"] != LINEAGE_SPEC
        ], meta)
    return load_state(spark, checkpoint_dir)


def compact_checkpoint(spark, checkpoint_dir: str, now: int):
    """Decay-aware checkpoint GC: fold all completed shards' rows per
    (spec, group), apply decay(now) to every time-decaying sketch, and
    rewrite the state as one compacted shard (-1) — ShardLog.compact. Safe to run any time: the fold reads
    only completed shards and the rewrite replaces the directory by
    _swap_dir at the end.

    This is the batch analogue of upstream's periodic IOLoop decay —
    at 10^12 scale it also bounds checkpoint growth: state stays
    O(groups × m) forever instead of O(shards × groups × m).
    """
    def fold(sketches):
        for sk in sketches.values():
            if hasattr(sk, "decay"):
                sk.decay(now)
        return sketches

    ShardLog(checkpoint_dir, additive=True).compact(fold)
    return load_state(spark, checkpoint_dir)


def load_state(spark, checkpoint_dir: str):
    """{(spec, group): merged sketch} over the completed shards, retries
    deduplicated (the additive ShardLog load). ``spark`` is unused: the
    read is driver-side."""
    log = ShardLog(checkpoint_dir, additive=True)
    return log.load(log.done())
