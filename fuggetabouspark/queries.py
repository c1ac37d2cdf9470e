"""User-facing query verbs over built sketch state (SURVEY.md §2.4).

All verbs answer from merged sketch rows; probe evaluation is
vectorized numpy. Small probe sets are answered driver-side (state is
O(m) per group); ``seen_within_distributed`` broadcasts the sketch
payloads and probes via mapInArrow for probe sets too large to
collect.
"""

from __future__ import annotations

import numpy as np

from .sketches import Sketch, sketch_from_bytes

SEEN_DDL = "group string, key long, seen boolean"

# worker-process-level cache of deserialized probe sketches, keyed on
# a content hash of the state payloads (see seen_within_distributed).
# Capacity raised to 4 in round 6: a four-granularity ingest guard
# probes FOUR states per batch (exact fps + near band keys + passage
# fps + emb bucket keys), and 2 slots would thrash between them,
# re-inflating every trigger (round 4 set 2 for the exact+near pair).
_PROBE_SKETCH_CACHE: dict = {}
_PROBE_CACHE_SLOTS = 4

# DRIVER-side cache of the corresponding sc.broadcast handles, same
# content key, same slot budget (round 6, guide §1/§5): without it
# every probe call re-pickles the full payload set into a fresh
# broadcast variable (~40 MB for a 1M-capacity TBF) even though the
# state version hasn't changed — the steady-state shape of incremental
# ingest is MANY probe jobs per state version. Evicted entries are
# unpersist()ed (not destroyed), so a lazy plan that still references
# one simply re-fetches from the driver. Keyed by (id(sc), content
# key) and holding the context itself: a Broadcast handle lives and
# dies with its SparkContext, so after a session restart the same
# state bytes must get a NEW broadcast, not the dead context's handle.
_STATE_BC_CACHE: dict = {}


def _state_broadcast(sc, payloads, cache_key: str):
    """The cached broadcast of ``payloads`` on context ``sc`` (see
    _STATE_BC_CACHE). Entries of any other context are dropped without
    unpersist — their broadcasts went with their context — and the
    stored context pins its id, so a new context can never be served
    a stale handle through a recycled id."""
    key = (id(sc), cache_key)
    hit = _STATE_BC_CACHE.get(key)
    if hit is not None:
        return hit[1]
    for k in [k for k, (c, _) in _STATE_BC_CACHE.items() if c is not sc]:
        del _STATE_BC_CACHE[k]
    bc = sc.broadcast(payloads)
    while len(_STATE_BC_CACHE) >= _PROBE_CACHE_SLOTS:
        _STATE_BC_CACHE.pop(next(iter(_STATE_BC_CACHE)))[1].unpersist()
    _STATE_BC_CACHE[key] = (sc, bc)
    return bc


def _payload_cache_key(payloads) -> str:
    import hashlib

    # CONTENT-keyed (not per-call): repeated probes of the same state
    # version hit both caches across jobs — a new state version changes
    # the bytes and misses. Length-framed fields: without the prefixes,
    # ("a", b"bXY") and ("ab", b"XY") would hash identically and a
    # colliding state-set could serve sketches under the wrong labels.
    d = hashlib.blake2b(digest_size=16)
    for g, p_ in payloads:
        gb = g.encode()
        d.update(len(gb).to_bytes(4, "little")); d.update(gb)
        d.update(len(p_).to_bytes(8, "little")); d.update(p_)
    return d.hexdigest()


def seen_within(
    sketches: dict[tuple[str, str], Sketch],
    spec_name: str,
    probes: np.ndarray,
    now: int,
    window: int | None = None,
    groups: list[str] | None = None,
):
    """'has token X been seen in the last W ticks, per source
    partition' (BASELINE.json:6). Zero false negatives in-window; FPR
    <= the sketch's configured bound.

    ``window`` defaults to the sketch's own window_ticks; passing a
    smaller value narrows the question without rebuilding (ticks are
    absolute, so any W <= window_ticks is answerable exactly).
    """
    probes = np.asarray(probes, dtype=np.int64)
    out = []
    for (sname, group), sk in sorted(sketches.items()):
        if sname != spec_name or (groups is not None and group not in groups):
            continue
        if window is not None and window != sk_window(sk):
            if window > sk_window(sk):
                raise ValueError(
                    f"window {window} exceeds the sketch's window_ticks "
                    f"{sk_window(sk)}: older sightings may already be decayed, "
                    "so widening at query time would produce false negatives"
                )
            sk = _with_window(sk, window)
        seen = sk.contains_batch(probes, now)
        out.extend((group, int(k), bool(s)) for k, s in zip(probes, seen))
    return out


def sk_window(sk: Sketch) -> int:
    return int(sk.params.window_ticks)


def _with_window(sk: Sketch, window: int) -> Sketch:
    """Re-parameterize the query window (geometry unchanged)."""
    from dataclasses import replace

    out = type(sk).__new__(type(sk))
    out.__dict__.update(sk.__dict__)
    out.params = replace(sk.params, window_ticks=window)
    if hasattr(out, "window"):
        out.window = window
    if hasattr(out, "tiers"):
        out.tiers = [_with_window(t, window) for t in sk.tiers]
    return out


def seen_within_df(spark, sketches, spec_name, probes, now, window=None, groups=None):
    rows = seen_within(sketches, spec_name, probes, now, window, groups)
    return spark.createDataFrame(rows, SEEN_DDL)


def seen_within_distributed(
    spark, state_df, spec_name, probes_df, now, key_col="key", only_seen=False
):
    """Probe a built sketch with a DataFrame of keys: broadcast the
    (small) sketch payloads, mapInArrow over the (large) probe set.
    This is the scale path — probes never leave the executors.

    The full answer is |groups| × |probes| rows (mostly seen=false for
    sparse membership); ``only_seen=True`` filters executor-side so
    only hits flow downstream — at 20 sources × 10^6 probes that cuts
    the output product by the miss rate before it touches the next
    exchange (VERDICT r01 #9).

    The deserialized sketches are cached PER WORKER PROCESS keyed on
    the payload CONTENT (round 4): sketch_from_bytes inflates the
    compressed payload to the full bucket arrays, and doing that per
    task made concurrent 115 MB inflations the dominant cost of a
    200 k-probe job. Python workers are reused across tasks AND jobs
    (spark.python.worker.reuse), so each worker decodes a given state
    VERSION once, however many probe jobs hit it — the steady-state
    shape of incremental ingest. The cache keeps only the newest
    entry, bounding worker memory at one state-set."""
    rows = state_df.where(f"spec = '{spec_name}'").select("group", "payload").collect()
    payloads = [(r["group"], bytes(r["payload"])) for r in rows]
    return seen_within_payloads(spark, payloads, probes_df, now, key_col, only_seen)


def seen_within_payloads(
    spark, payloads, probes_df, now, key_col="key", only_seen=False
):
    """seen_within_distributed for callers that already hold the state
    payloads in memory (the incremental operators: they load + merge
    the checkpointed sketch on the driver anyway). Skips the
    createDataFrame → collect round trip of the payload bytes — two
    driver-side copies of a ~40 MB sketch per probe call (round 6,
    guide §5: the driver should do almost no data work).

    ``payloads``: list of (group, bytes). Same output as
    seen_within_distributed for a state_df holding those rows."""
    import pyarrow as pa

    cache_key = _payload_cache_key(payloads)
    bc = _state_broadcast(spark.sparkContext, payloads, cache_key)

    def probe(iterator):
        import fuggetabouspark.queries as _q

        from .hashing import hash_pair

        sks = _q._PROBE_SKETCH_CACHE.get(cache_key)
        if sks is None:
            sks = [(g, sketch_from_bytes(p)) for g, p in bc.value]
            while len(_q._PROBE_SKETCH_CACHE) >= _q._PROBE_CACHE_SLOTS:
                # evict oldest (dict preserves insertion order)
                _q._PROBE_SKETCH_CACHE.pop(next(iter(_q._PROBE_SKETCH_CACHE)))
            _q._PROBE_SKETCH_CACHE[cache_key] = sks
        if not sks:  # no groups for this spec: skip hashing entirely
            return
        # per-group constant string column, built once per length and
        # sliced per batch (round 6, guide §4.2): the old
        # pa.array([g] * n) materialized a fresh n-element Python list
        # + Arrow conversion per group per batch — at 20 groups x 10^6
        # probes that is the probe job's dominant non-hash cost
        garr: dict = {}

        def gcol(g, m):
            a = garr.get(g)
            if a is None or len(a) < m:
                a = garr[g] = pa.array([g] * max(m, 8192), pa.string())
            return a.slice(0, m)

        true_arr = None
        for tbl in iterator:
            keys = tbl.column(key_col).to_numpy(zero_copy_only=False).astype(np.int64)
            # hash the batch ONCE; every group's filter reuses the pair
            # (the dominant probe cost is |groups| x hashing otherwise)
            pair = hash_pair(keys)
            key_arr = pa.array(keys, pa.int64())
            for g, sk in sks:
                seen = sk.contains_batch(keys, now, pair=pair)
                if only_seen:
                    hit = np.flatnonzero(seen)
                    if hit.size == 0:
                        continue
                    if true_arr is None or len(true_arr) < hit.size:
                        true_arr = pa.array(
                            np.ones(max(hit.size, 8192), dtype=bool)
                        )
                    out = pa.RecordBatch.from_arrays(
                        [
                            gcol(g, hit.size),
                            key_arr.take(pa.array(hit)) if hit.size < keys.size else key_arr,
                            true_arr.slice(0, hit.size),
                        ],
                        ["group", "key", "seen"],
                    )
                else:
                    out = pa.RecordBatch.from_arrays(
                        [gcol(g, keys.size), key_arr, pa.array(seen)],
                        ["group", "key", "seen"],
                    )
                yield out

    return probes_df.mapInArrow(probe, schema=SEEN_DDL)


def windowed_merge(
    sketches: dict[tuple[str, str], Sketch],
    spec_name: str,
    now: int,
    window: int,
    bucket_ticks: int,
) -> dict[str, Sketch]:
    """Merge the per (group, tick-bucket) ring buckets overlapping
    (now-window, now] into one sketch per group. Works for ANY sketch
    kind built with group_cols=(key, bucket) — HLL gives windowed
    distinct counts, t-digest/KLL windowed quantiles, CMS/MG windowed
    frequencies. Group key layout: 'source\\x1fbucket'.

    Bucket-granularity slack: the boundary bucket lo is included whole
    even when the window starts mid-bucket, so the merge covers ticks
    [lo*bucket_ticks, now] — up to bucket_ticks-1 ticks MORE than the
    exact (now-window, now]. Exactly tick-bounded windows require the
    window boundary to align with a bucket edge, or a finer ring
    (ADVICE r01)."""
    from .pipeline import GROUP_SEP

    # window ticks are [now - window + 1, now] (same convention as TBF
    # decay); buckets below lo are fully expired and must not merge in
    lo = (now - window + 1) // bucket_ticks
    hi = now // bucket_ticks
    acc: dict[str, Sketch] = {}
    for (sname, group), sk in sketches.items():
        if sname != spec_name:
            continue
        src, _, bucket = group.rpartition(GROUP_SEP)
        try:
            b = int(bucket)
        except ValueError:
            continue  # group without a bucket suffix: not part of a ring
        if lo <= b <= hi:
            acc[src] = acc[src].merge(sk) if src in acc else sk
    return dict(sorted(acc.items()))


def decayed_cardinality(
    sketches: dict[tuple[str, str], Sketch],
    spec_name: str,
    now: int,
    window: int,
    bucket_ticks: int,
):
    """Distinct keys seen in (now-window, now] per group — widened to
    whole ring buckets, i.e. ticks [((now-window+1)//bucket_ticks) *
    bucket_ticks, now]; see windowed_merge's bucket-granularity note —
    windowed union of the HLL ring, then estimate (SURVEY.md §2.4)."""
    return {
        src: sk.estimate()
        for src, sk in windowed_merge(sketches, spec_name, now, window, bucket_ticks).items()
    }


def last_seen(
    sketches: dict[tuple[str, str], Sketch],
    spec_name: str,
    probes: np.ndarray,
    groups: list[str] | None = None,
) -> dict[str, np.ndarray]:
    """Estimated last-sighting tick per probe key, per group (0 =
    never seen; upper-bound estimator, see TBF.last_seen_batch)."""
    probes = np.asarray(probes, dtype=np.int64)
    return {
        group: sk.last_seen_batch(probes)
        for (sname, group), sk in sorted(sketches.items())
        if sname == spec_name and (groups is None or group in groups)
    }


def hll_intersection(sk_a: Sketch, sk_b: Sketch) -> float:
    """Inclusion–exclusion estimate of |A ∩ B| from two HLLs:
    |A| + |B| − |A ∪ B| (union = register max, exact for HLL). Error
    grows with the symmetric difference — standard caveat for
    inclusion–exclusion on sketches; fine for overlap ratios of
    similarly-sized sets (e.g. shared vocabulary between sources)."""
    return sk_a.estimate() + sk_b.estimate() - sk_a.merge(sk_b).estimate()


def multiplicity(sketches, spec_name: str, keys: np.ndarray) -> dict[str, np.ndarray]:
    """Approximate per-group frequencies from the CMS (point query =
    min over d rows; overcount <= eps*N w.p. 1-delta)."""
    keys = np.asarray(keys, dtype=np.int64)
    return {
        group: sk.query_batch(keys)
        for (sname, group), sk in sorted(sketches.items())
        if sname == spec_name
    }


def quantiles(sketches, spec_name: str, qs) -> dict[str, np.ndarray]:
    """Per-group quantiles from t-digest/KLL state."""
    qs = np.asarray(qs, dtype=np.float64)
    return {
        group: sk.compressed().quantiles(qs) if hasattr(sk, "compressed") else sk.quantiles(qs)
        for (sname, group), sk in sorted(sketches.items())
        if sname == spec_name
    }


def heavy_hitters_mg(sketches, spec_name: str, k: int) -> dict[str, list[tuple[int, int]]]:
    """Top-k per group straight from the Misra–Gries summary — the
    self-contained alternative to CMS+candidates: one sketch carries
    both the candidate set and the counts, with the PODS'12 mergeable
    guarantee (undercount <= N/(k_mg+1)) under any merge tree."""
    return {
        group: sk.top_k(k)
        for (sname, group), sk in sorted(sketches.items())
        if sname == spec_name
    }


def heavy_hitters(
    cms_sketches,
    cms_spec: str,
    candidates: dict[str, np.ndarray],
    k: int,
) -> dict[str, list[tuple[int, int]]]:
    """Top-k per group: exact local candidates scored by the merged
    CMS (classic distributed top-k; SURVEY.md §2.4)."""
    out = {}
    for (sname, group), sk in sorted(cms_sketches.items()):
        if sname != cms_spec or group not in candidates:
            continue
        cand = np.unique(np.asarray(candidates[group], dtype=np.int64))
        est = sk.query_batch(cand)
        order = np.lexsort((cand, -est))[:k]
        out[group] = [(int(cand[i]), int(est[i])) for i in order]
    return out
