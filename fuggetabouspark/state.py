"""Checkpointed, resumable builds with per-shard lineage
(SURVEY.md §3.3; BASELINE.json:6 "per-partition lineage rows and
checkpointed sketch state for resumable runs"), and the checkpoint
store through which the library commits and reads its small checkpoint
artifacts.

Granularity: the input is split into ``n_shards`` deterministic shards
by ``pmod(xxhash64(doc_id), n_shards)``. Each shard is one
``build_sketches(...).collect()``; the driver splits the collected rows
into the shard's sketch rows and its per-partition lineage rows, then
commits the sketch rows and, LAST, the shard's lineage row. A lineage
row is therefore only visible after its shard's sketch rows are
durable. Resume lists completed shard ids from lineage and skips them
— a killed run re-does at most one shard. The final answer merges
every shard's sketch rows; correctness under retries holds because
shard partials are deduplicated by (spec, group, shard) before the
merge, so an orphaned attempt can never double-count.

The checkpoint store (shared with dataops.incremental and
streaming.StreamingSketchBuilder): sketch state, lineage and streaming
versions are small, so they are committed and read FROM THE DRIVER
with pyarrow, never through a Spark job (shard-sized ledgers stay
Spark writes). _commit_row writes a parquet file under a
'_'-prefixed temp name and publishes it with an atomic ``os.replace``
(both pyarrow.dataset and Spark's reader skip '_' files, so a crash
leaves an invisible temp, never a torn part); _pa_read_table reads a
directory back. _swap_dir replaces a whole directory (compaction,
expiry, a streaming version) by a two-rename swap, _live resolves the
``_old`` copy a crash between those renames leaves, and _heal_swap
restores it before an append. The layout assumes a filesystem path —
on an object store, replace the renames with a manifest swap (Iceberg
snapshot commit).

At cluster scale, shards double as a unit of incremental ingest: a new
partition of an Iceberg table is just one more shard appended to the
same checkpoint.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

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


def _paths(checkpoint_dir: str) -> tuple[str, str]:
    return os.path.join(checkpoint_dir, "sketch_state"), os.path.join(checkpoint_dir, "lineage")


def completed_shards(spark, checkpoint_dir: str, expect_n_shards: int | None = None) -> set[int]:
    """Shard ids with durable lineage. When ``expect_n_shards`` is
    given, refuses to resume a checkpoint built with a different shard
    count — shard membership is pmod(hash, n_shards), so mixing counts
    would re-process documents already covered by completed shards and
    double-count every additive sketch. A missing lineage dir means no
    shard completed; an unreadable one raises rather than silently
    rebuilding every shard."""
    _, lineage_path = _paths(checkpoint_dir)
    if not os.path.exists(lineage_path):
        return set()
    rows = _pa_read_table(lineage_path, columns=["shard", "meta"]).to_pylist()
    if expect_n_shards is not None and rows:
        recorded = json.loads(rows[0]["meta"]).get("n_shards")
        if recorded != expect_n_shards:
            raise ValueError(
                f"checkpoint was built with n_shards={recorded}; resuming with "
                f"n_shards={expect_n_shards} would double-count — use the original value"
            )
    return {r["shard"] for r in rows}


def build_resumable(
    spark,
    df,
    specs: list[SketchSpec],
    checkpoint_dir: str,
    n_shards: int = 8,
    group_cols: tuple[str, ...] = ("source",),
    tick_col=None,
    partitions: int | None = None,
    salt_mod: int = 16,
    stbf_fanin: int | None = None,
    fail_after_shard: int | None = None,
):
    """Build shard-by-shard with checkpointing; safe to re-invoke after
    a crash — completed shards (those with a lineage row) are skipped.

    ``fail_after_shard`` deliberately raises after N shards (test hook
    for the kill-and-resume gate in BASELINE.md).
    Returns the merged final sketches as {(spec, group): sketch}.
    """
    from pyspark.sql import functions as F

    from .pipeline import corpus_digest, lineage_from_rows

    state_path, lineage_path = _paths(checkpoint_dir)
    done = completed_shards(spark, checkpoint_dir, expect_n_shards=n_shards)
    _heal_swap(state_path)
    shard_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")

    built = 0
    for shard in range(n_shards):
        if shard in done:
            continue
        sub = df.where(shard_col == shard)
        rows = build_sketches(
            sub, specs, group_cols=group_cols, tick_col=tick_col,
            partitions=partitions, salt_mod=salt_mod,
            # an STBF tier's union spans every shard's partials, so a
            # caller-requested split is multiplied by the shard count;
            # fanin<=1 means "no split" and must stay that way
            stbf_fanin=(stbf_fanin * n_shards) if stbf_fanin and stbf_fanin > 1 else None,
        ).collect()
        lin_rows = [r for r in rows if r["spec"] == LINEAGE_SPEC]
        # sketch rows first, lineage row last: a shard is only
        # "completed" once its state is durable
        _commit_row(state_path, *(
            {"spec": r["spec"], "group": r["group"], "payload": bytes(r["payload"]),
             "n_items": r["n_items"], "shard": shard}
            for r in rows if r["spec"] != LINEAGE_SPEC
        ))
        # shard-level audit lineage (SURVEY §3.3, round 3): exact
        # per-shard row/token totals + ingest digest from the build's
        # per-partition lineage rows, plus the file-level provenance of
        # the scan. Hash shards read every input file (membership is
        # pmod(hash, n_shards)), so input_files is the full file set
        # per shard — plan metadata, not an extra data pass; empty for
        # non-file-backed frames.
        lin = lineage_from_rows(lin_rows)
        meta = {
            "shard": shard,
            "n_shards": n_shards,
            "specs": [s.name for s in specs],
            "n_rows": sum(e["n_rows"] for e in lin),
            "n_tokens": sum(e["n_tokens"] for e in lin),
            "token_digest": corpus_digest(lin_rows),
            "input_files": sorted(sub.inputFiles()),
        }
        _commit_row(lineage_path, shard=shard, meta=json.dumps(meta, sort_keys=True))
        built += 1
        if fail_after_shard is not None and built >= fail_after_shard:
            raise RuntimeError(f"injected failure after shard {shard}")
    return load_state(spark, checkpoint_dir)


def compact_checkpoint(spark, checkpoint_dir: str, now: int, drop_groups_before: int | None = None):
    """Decay-aware checkpoint GC: fold all shard rows per (spec, group),
    apply decay(now) to every time-decaying sketch, drop expired HLL
    ring buckets (group suffix '\\x1f<bucket>' older than
    ``drop_groups_before``), and rewrite the state as one compacted
    shard (-1). Safe to run any time: merges are idempotent-per-partial
    and the rewrite replaces the directory by _swap_dir at the end.

    This is the batch analogue of upstream's periodic IOLoop decay —
    at 10^12 scale it also bounds checkpoint growth: state stays
    O(groups × m) forever instead of O(shards × groups × m).
    """
    from .pipeline import GROUP_SEP

    state_path, _ = _paths(checkpoint_dir)
    sketches = load_state(spark, checkpoint_dir)
    rows = []
    for (spec, group), sk in sorted(sketches.items()):
        if drop_groups_before is not None and GROUP_SEP in group:
            try:
                if int(group.rsplit(GROUP_SEP, 1)[1]) < drop_groups_before:
                    continue
            except ValueError:
                pass
        if hasattr(sk, "decay"):
            sk.decay(now)
        rows.append({"spec": spec, "group": group, "payload": sk.to_bytes(),
                     "n_items": sk.n_items, "shard": -1})
    # load_state above read the _old copy if a previous compaction
    # crashed mid-swap; _swap_dir keeps it until the new state is in
    _swap_dir(lambda tmp: _commit_row(tmp, *rows), state_path)
    return load_state(spark, checkpoint_dir)


def load_state(spark, checkpoint_dir: str):
    """Read checkpointed shard rows, dedupe retries, return
    {(spec, group): merged sketch}. ``spark`` is unused: the read is
    driver-side."""
    state_path, _ = _paths(checkpoint_dir)
    # dedupe retried shards: keep one row per (spec, group, shard), the
    # one with the largest n_items
    best: dict = {}
    for r in _pa_read_table(_live(state_path)).to_pylist():
        key = (r["spec"], r["group"], r["shard"])
        if key not in best or r["n_items"] > best[key]["n_items"]:
            best[key] = r
    return merge_rows_to_sketches(best[k] for k in sorted(best))
