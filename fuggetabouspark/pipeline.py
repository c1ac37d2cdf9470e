"""The distributed build pipeline (SURVEY.md §3.2).

    read corpus ──► repartition(P, source ⊕ salt)      explicit shuffle,
                                                        skew-salted
      ──► mapInArrow(update)                            Arrow batches →
            ListArray.flatten() → numpy scatter         explode-free, no
            ONE partial sketch row per (spec×group)     per-row Python
            per partition (+ one lineage row)
      ──► groupBy(spec, group, salt).applyInPandas      stage-1 merge
      ──► groupBy(spec, group).applyInPandas            stage-2 merge
      ──► final sketch rows (spec, group, payload, n_items)

Why two merge stages: AQE's skew handling does not cover skewed
groupBy().applyInPandas, so the hot group ("web" is 80% of the corpus,
FIXTURES.md) is first merged per (group, salt) — #partials/salt_mod
rows per stage-1 task — then the tiny per-salt partials collapse in
stage 2 (SURVEY.md §4.2). All merges are the sketches' own
commutative-monoid merge, so any ordering tree yields identical bytes.

The per-token hot path is pure numpy on flattened Arrow buffers:
`ListArray.flatten()` is zero-copy; per-row ticks broadcast to tokens
via `np.repeat(ticks, diff(offsets))`. No explode, no Python loop over
rows or tokens (BASELINE.json:6 "explode-free flat_map over tokens").
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Iterable

import numpy as np

from .hashing import hash64_strings, splitmix64
from .params import params_to_json
from .sketches import REGISTRY, Sketch, sketch_from_bytes

PARTIAL_DDL = (
    "spec string, group string, salt int, payload binary, n_items long"
)
LINEAGE_SPEC = "_lineage"
GROUP_SEP = "\x1f"
NULL_GROUP = "\x00null"  # group bucket for rows whose group column is NULL


@dataclass(frozen=True)
class SketchSpec:
    """What to sketch: which accumulator, over which value stream.

    value: "tokens"  → every token (flattened, explode-free)
           "doc_id"  → one hashed key per row
           "n_tok"   → one numeric value per row (quantile sketches)
    """

    name: str
    kind: str  # key in sketches.REGISTRY
    params: Any
    value: str = "tokens"

    def __post_init__(self):
        if self.kind in ("tdigest", "kll") and self.value == "tokens":
            # the token hot path deduplicates each batch to (uniq,
            # count) before the update — exact for the set/weighted
            # sketches, but a quantile sketch over the raw token
            # MULTISET would silently lose duplicates (and quantiles of
            # hashed token values are meaningless anyway). Quantile
            # sketches take per-row numeric streams.
            raise ValueError(
                f"{self.kind} over value='tokens' is not supported: "
                "quantile sketches take per-row numeric streams "
                "(e.g. value='n_tok')"
            )

    def zero(self) -> Sketch:
        return REGISTRY[self.kind].zero(self.params)


def _tick_array(tbl, n: int) -> np.ndarray:
    if "tick" in tbl.schema.names:
        return tbl.column("tick").to_numpy(zero_copy_only=False).astype(np.int64)
    return np.ones(n, dtype=np.int64)


def _dedup_tokens(flat: np.ndarray, ticks: np.ndarray):
    """(unique keys, per-key max tick, per-key count, raw size).

    Every sketch update over a token batch factors exactly through this
    triple — CBF/CMS take weighted adds, TBF/STBF take the max tick,
    HLL has set semantics — and a Zipf token stream is ~90%+ duplicates
    per batch, so the DRAM-bound scatter kernels see an order of
    magnitude fewer keys. Results are bit-identical to the raw stream.
    """
    if flat.size == 0:
        return flat, ticks, np.zeros(0, dtype=np.int64), 0
    # single-key argsort + segment reduces: 2.8× the previous
    # lexsort((ticks, flat)) formulation (lexsort pays two stable
    # sorts; the per-key tick max is cheaper as maximum.reduceat over
    # the runs). This was the profile's hottest kernel function (33%
    # of single-core update time).
    order = np.argsort(flat, kind="stable")
    st = flat[order]
    first = np.empty(st.size, dtype=bool)
    first[0] = True
    first[1:] = st[1:] != st[:-1]
    starts = np.flatnonzero(first)
    uniq = st[starts]
    max_tick = np.maximum.reduceat(ticks[order], starts)
    counts = np.diff(np.append(starts, st.size))
    return uniq, max_tick, counts, int(flat.size)


def _apply_update(sk: Sketch, spec: SketchSpec, vals, ticks, pair=None,
                  weights=None, raw_n=None) -> Sketch:
    """Dispatch one batch into a sketch, passing shared hashes where
    the sketch can reuse them (hash each key once per batch, not once
    per sketch). ``weights``/``raw_n`` carry deduplicated-batch info;
    n_items stays the RAW count so serialized state is independent of
    batch/partition boundaries."""
    kind = spec.kind
    if kind == "tbf" or kind == "stbf":
        before = sk.n_items
        sk.add_batch(vals, ticks, pair=pair)
        if raw_n is not None:
            sk.n_items = before + raw_n
    elif kind == "cbf":
        sk.add_batch(vals, pair=pair, weights=weights)
    elif kind == "hll":
        before = sk.n_items
        sk.add_batch(vals, h=pair[0] if pair is not None else None)
        if raw_n is not None:
            sk.n_items = before + raw_n
    elif kind == "cms" or kind == "mg":
        sk.add_batch(vals, weights=weights)
    elif kind in ("tdigest", "kll"):
        sk.add_batch(np.asarray(vals, dtype=np.float64))
    else:
        raise ValueError(f"unknown sketch kind {kind}")
    return sk


def make_update_fn(specs: list[SketchSpec], group_cols: tuple[str, ...], salt_mod: int):
    """Build the mapInArrow update function: consumes a partition's
    Arrow batches, maintains one sketch per (spec, group), emits one
    partial row per state plus a lineage row (SURVEY.md §3.3)."""
    spec_list = [(s, params_to_json(s.params)) for s in specs]
    need_token_pair = any(
        s.value == "tokens" and s.kind in ("cbf", "tbf", "stbf", "hll") for s in specs
    )
    need_doc_keys = any(s.value == "doc_id" for s in specs)
    need_ntok = any(s.value == "n_tok" for s in specs)

    def update(iterator: Iterable) -> Iterable:
        import pyarrow as pa
        from pyspark import TaskContext

        from .hashing import hash_pair

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        states: dict[tuple[int, str], Sketch] = {}
        n_rows = 0
        n_tokens = 0
        token_digest = np.uint64(0)

        for tbl in iterator:
            nb = tbl.num_rows
            if nb == 0:
                continue
            n_rows += nb
            row_ticks = _tick_array(tbl, nb)
            # group rows by the group-key tuple (usually just source)
            if group_cols:
                import pandas as pd
                import pyarrow.types as pat

                # NULL group values must form their own group: factorize
                # codes them -1, which no group loop iteration matches —
                # their tokens would silently enter no sketch (while the
                # lineage digest still counts them), or fold into the
                # sole non-null group when the batch happens to have one.
                # NULLs are mapped to NULL_GROUP per column BEFORE any
                # str conversion: astype(str) would turn NaN into the
                # literal 'nan', which can collide with a real 'nan'
                # group value in multi-column keys (ADVICE r01). The
                # string rendering itself happens in ARROW (cast to
                # pa.string) so it is independent of null presence —
                # to_pandas() on a nullable int64 batch coerces to
                # float64 and would render '5.0' in batches with a NULL
                # but '5' in batches without, silently splitting one
                # logical group into two sketch groups.
                parts = []
                for c in group_cols:
                    arr = tbl.column(c)
                    if not (pat.is_string(arr.type) or pat.is_large_string(arr.type)):
                        arr = arr.cast(pa.string())
                    s = arr.to_pandas().astype(object)
                    s[s.isna()] = NULL_GROUP
                    parts.append(s)
                gk = parts[0]
                for p in parts[1:]:
                    gk = gk + GROUP_SEP + p
                codes, uniques = pd.factorize(gk)
            else:
                codes, uniques = np.zeros(nb, dtype=np.int64), [""]
            # flatten ONCE per batch (explode-free, zero-copy), hash ONCE
            tok_col = tbl.column("tokens")
            flat_all = tok_col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            counts_all = np.diff(tok_col.offsets.to_numpy(zero_copy_only=False).astype(np.int64))
            n_tokens += int(flat_all.size)
            # ingest-invariant digest (BASELINE.json:15): per-row digest =
            # (sum of token mixes) + mix(row length), wrapping mod 2^64;
            # row sums via prefix-sum differencing; partition digest =
            # XOR of row digests (order-independent)
            with np.errstate(over="ignore"):
                row_mix = splitmix64(flat_all.astype(np.uint64))
                ps = np.concatenate([np.zeros(1, np.uint64), np.cumsum(row_mix, dtype=np.uint64)])
                bounds = np.concatenate([np.zeros(1, np.int64), np.cumsum(counts_all)])
                row_sums = ps[bounds[1:]] - ps[bounds[:-1]]
                row_sums += splitmix64(counts_all.astype(np.uint64))
                if row_sums.size:
                    token_digest ^= np.bitwise_xor.reduce(row_sums)

            tok_ticks = np.repeat(row_ticks, counts_all)
            tok_codes = np.repeat(codes, counts_all) if len(uniques) > 1 else None
            ntok_arr = (
                tbl.column("n_tok").to_numpy(zero_copy_only=False).astype(np.float64)
                if need_ntok
                else None
            )
            doc_keys = (
                # Arrow column straight through — the string kernel runs
                # over the values buffer + offsets, no per-string Python
                hash64_strings(tbl.column("doc_id")).view(np.int64)
                if need_doc_keys
                else None
            )

            need_tok = any(s.value == "tokens" for s, _ in spec_list)
            for gi, gval in enumerate(uniques):
                if len(uniques) > 1:
                    rmask = codes == gi
                    tmask = (tok_codes == gi) if need_tok else None  # one scan per group
                    g_flat = flat_all[tmask] if need_tok else flat_all[:0]
                    g_ticks = tok_ticks[tmask] if need_tok else tok_ticks[:0]
                else:
                    rmask = slice(None)
                    g_flat, g_ticks = flat_all, tok_ticks
                if need_tok:
                    uniq, max_tick, tok_counts, raw_n = _dedup_tokens(g_flat, g_ticks)
                    g_pair = hash_pair(uniq) if need_token_pair else None
                for si, (spec, _) in enumerate(spec_list):
                    key = (si, str(gval))
                    sk = states.get(key)
                    if sk is None:
                        sk = states[key] = spec.zero()
                    if spec.value == "tokens":
                        _apply_update(
                            sk, spec, uniq, max_tick,
                            pair=g_pair, weights=tok_counts, raw_n=raw_n,
                        )
                    elif spec.value == "n_tok":
                        _apply_update(sk, spec, ntok_arr[rmask], row_ticks[rmask])
                    elif spec.value == "doc_id":
                        _apply_update(sk, spec, doc_keys[rmask], row_ticks[rmask])
                    else:
                        raise ValueError(f"unknown value stream {spec.value}")

        rows = {
            "spec": [], "group": [], "salt": [], "payload": [], "n_items": [],
        }
        for (si, gval), sk in sorted(states.items(), key=lambda kv: (kv[0][0], kv[0][1])):
            rows["spec"].append(spec_list[si][0].name)
            rows["group"].append(gval)
            rows["salt"].append(pid % salt_mod)
            rows["payload"].append(sk.to_bytes())
            rows["n_items"].append(sk.n_items)
        # lineage row: one per task partial
        lineage = {
            "partition_id": pid,
            "n_rows": n_rows,
            "n_tokens": n_tokens,
            "token_digest": int(token_digest),
        }
        rows["spec"].append(LINEAGE_SPEC)
        rows["group"].append("")
        rows["salt"].append(pid % salt_mod)
        rows["payload"].append(json.dumps(lineage, sort_keys=True).encode())
        rows["n_items"].append(n_rows)
        yield pa.RecordBatch.from_pydict(
            rows,
            schema=pa.schema(
                [
                    ("spec", pa.string()),
                    ("group", pa.string()),
                    ("salt", pa.int32()),
                    ("payload", pa.binary()),
                    ("n_items", pa.int64()),
                ]
            ),
        )

    return update


def _merge_pdf(pdf):
    """applyInPandas merge: fold a group's partials with the sketch's
    own monoid merge (order-invariant by construction, tested)."""
    import pandas as pd

    payloads = pdf["payload"].tolist()
    if pdf["spec"].iloc[0] == LINEAGE_SPEC:
        # lineage rows pass through unmerged, one per original partial
        return pdf[["spec", "group", "salt", "payload", "n_items"]]
    acc = sketch_from_bytes(payloads[0])
    for p in payloads[1:]:
        acc = acc.merge(sketch_from_bytes(p))
    return pd.DataFrame(
        {
            "spec": [pdf["spec"].iloc[0]],
            "group": [pdf["group"].iloc[0]],
            "salt": [0],
            "payload": [acc.to_bytes()],
            "n_items": [acc.n_items],
        }
    )


def build_sketches(
    df,
    specs: list[SketchSpec],
    group_cols: tuple[str, ...] = ("source",),
    tick_col=None,
    partitions: int | None = None,
    salt_mod: int = 16,
    stbf_fanin: int | None = None,
    align: str = "shuffle",
):
    """Run the full build: returns a DataFrame of final sketch rows
    (spec, group, payload, n_items) plus passthrough lineage rows.

    - ``tick_col``: a Column expression evaluated as int64 event-time
      tick per row (default: constant 1). Making time an explicit
      column keeps decay deterministic (SURVEY.md §7.6).
    - ``partitions``: explicit repartition width; default
      2 × defaultParallelism (BASELINE.json:6 explicit repartitioning).
      With align="storage" the update runs one task per scan split,
      whatever ``partitions``.
    - ``salt_mod``: stage-1 salt fan-out for hot groups. The salted
      pre-merge runs only when ``partitions`` > 64, i.e. when a group
      would otherwise collect > 64 partials in a single merge task (the
      two-stage plan costs an extra shuffle, which only pays off once
      per-group partial counts are large — at 1000 executors it is
      essential, at local scale it is pure overhead).
    - ``stbf_fanin``: guarantees the merged STBF's FPR bound when tier
      growth actually happens, by giving each partial
      max_fill_factor / fanin of every tier's budget (set it to the
      total partial count: partitions, × shards for resumable builds).
      Two key-distribution regimes decide whether you need it:
      * DISJOINT keys (doc_id dedup — repartition on hash(doc_id) puts
        every key on exactly one partition): local distinct ≈ total/P,
        ladders stay short, and the split is exactly right → set
        stbf_fanin=partitions.
      * OVERLAPPING keys (token membership — every partition sees the
        hot vocab): size capacity ≥ expected distinct instead; growth
        is then a safety net and no split is needed. Splitting in this
        regime forces every partial to rebuild the whole ladder
        (observed 6× build cost). Default is therefore 1 (no split);
        check ``ScalingTimingBloomFilter.effective_error()`` on the
        merged sketch — it reports the REAL bound from observed fills,
        so an undersized capacity is visible rather than silent.
    - ``align``: "shuffle" (default) repartitions the corpus on
      (group, salt) — required when group values are scattered across
      files. "storage" skips the corpus shuffle entirely and sketches
      scan-aligned splits — correct whenever the merge groups don't
      care how rows are partitioned (they never do: partials merge by
      monoid), and THE scale win for an Iceberg table already
      partitioned by the group column: at 10^12 rows the corpus
      shuffle is the dominant cost and buys nothing; skew is handled
      by the scan's file splitting (a hot source's files split into
      many map tasks automatically via maxPartitionBytes). The splits
      are not merged, unlike the probe's and the signatures' (session.
      _merge_small_splits): an update task holds one sketch per (spec,
      group) it has seen until it ends, so a task over many sources'
      splits holds all their sketches. With perfbench's 7 corpus specs
      (local[2], 200 docs per source), peak worker RSS was 139 MB per
      split against 193, 390 and 638 MB for tasks over 4, 16 and 32
      sources (ROADMAP item 11).
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if partitions is None:
        partitions = 2 * spark.sparkContext.defaultParallelism
    two_stage = partitions > 64
    specs = [_split_stbf_budget(s, stbf_fanin or 1) for s in specs]
    cols = list(dict.fromkeys([*group_cols, "doc_id", "tokens", "n_tok"]))
    sel = df.select(*cols, (tick_col if tick_col is not None else F.lit(1)).cast("long").alias("tick"))
    if align not in ("storage", "shuffle"):
        raise ValueError(f"align must be 'shuffle' or 'storage', got {align!r}")
    if align == "storage":
        salted = sel  # sketch the scan splits in place — no corpus shuffle
    else:
        # explicit skew-salted shuffle: spread each hot group over many
        # partitions; the salt is a deterministic hash of doc_id
        salted = sel.repartition(
            partitions, *[F.col(c) for c in group_cols], F.pmod(F.xxhash64("doc_id"), F.lit(partitions))
        )
    partials = salted.mapInArrow(
        make_update_fn(specs, group_cols, salt_mod if two_stage else 1), schema=PARTIAL_DDL
    )
    if two_stage:
        partials = partials.groupBy("spec", "group", "salt").applyInPandas(
            _merge_pdf, schema=PARTIAL_DDL
        )
    final = partials.groupBy("spec", "group").applyInPandas(_merge_pdf, schema=PARTIAL_DDL)
    return final.select("spec", "group", "payload", "n_items")


def merge_rows_to_sketches(rows) -> dict[tuple[str, str], Sketch]:
    """Collect final sketch rows into {(spec, group): sketch}. Sketch
    state is O(m) per group — safe to hold on the driver."""
    out: dict[tuple[str, str], Sketch] = {}
    for r in rows:
        if r["spec"] == LINEAGE_SPEC:
            continue
        key = (r["spec"], r["group"])
        sk = sketch_from_bytes(bytes(r["payload"]))
        out[key] = out[key].merge(sk) if key in out else sk
    return out


def _split_stbf_budget(spec: SketchSpec, fanin: int) -> SketchSpec:
    """Give each STBF partial 1/fanin of every tier's fill budget so
    the tier-wise max-merge union stays within the error bound
    (SURVEY.md §7.5). Geometry (m, k per tier) is untouched — only the
    local growth threshold changes — so merges stay compatible across
    partials of the same build."""
    from dataclasses import replace

    if spec.kind != "stbf" or fanin <= 1:
        return spec
    p = replace(spec.params, max_fill_factor=spec.params.max_fill_factor / fanin)
    return SketchSpec(spec.name, spec.kind, p, spec.value)


def lineage_from_rows(rows) -> list[dict]:
    """Parse the per-partition lineage rows out of collected output."""
    return [
        json.loads(bytes(r["payload"]))
        for r in rows
        if r["spec"] == LINEAGE_SPEC
    ]


def corpus_digest(rows) -> int:
    """Order-independent ingest digest: XOR of per-row token-content
    hashes across all partitions. Equal digests ⇒ the pipeline saw the
    same multiset of token arrays (BASELINE.json:15 per-row invariant),
    regardless of partitioning/shuffles."""
    d = 0
    for entry in lineage_from_rows(rows):
        d ^= entry["token_digest"]
    return d


def tree_merge_global(partials_df, spec_name: str) -> Sketch:
    """Single global sketch via RDD.treeAggregate (log-depth fan-in,
    no driver bottleneck single-reduce; SURVEY.md §4.2)."""
    from pyspark.sql import functions as F

    rdd = (
        partials_df.where(F.col("spec") == spec_name)
        .select("payload")
        .rdd.map(lambda r: bytes(r[0]))
    )
    nparts = max(1, rdd.getNumPartitions())
    depth = max(2, int(np.ceil(np.log(max(nparts, 4)) / np.log(4))))

    def seq(acc, b):
        sk = sketch_from_bytes(b)
        return sk if acc is None else acc.merge(sk)

    def comb(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return a.merge(b)

    return rdd.treeAggregate(None, seq, comb, depth=depth)
