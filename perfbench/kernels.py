"""Single-threaded sketch kernels on a fixed sample of the seeded corpus.

These run in the driver process with no Spark involved, through the
sketches' public API: ``zero``, ``add_batch``, ``merge``, ``to_bytes``,
``sketch_from_bytes`` and ``contains_batch``, plus ``hashing.hash_pair``.
Each timing is the median of ``REPS`` repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 5
KINDS = ("cbf", "tbf", "stbf", "hll", "cms", "tdigest", "kll")


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _add(sk, kind: str, keys: np.ndarray, tick: int):
    if kind in ("tbf", "stbf"):
        return sk.add_batch(keys, tick)
    if kind in ("tdigest", "kll"):
        return sk.add_batch(keys.astype(np.float64))
    return sk.add_batch(keys)


def sketch_kernels(specs, keys: np.ndarray) -> dict[str, float]:
    """Per kind: add throughput, merge and decode time, payload size; plus
    TBF membership and pair-hashing throughput.  ``keys`` is split in two
    halves so that merge sees two different partials."""
    from fuggetabouspark.hashing import hash_pair
    from fuggetabouspark.sketches import sketch_from_bytes

    out: dict[str, float] = {}
    half = keys.size // 2
    a_keys, b_keys = keys[:half], keys[half:]
    by_kind = {s.kind: s for s in specs}
    for kind in KINDS:
        spec = by_kind[kind]
        add_s = _median_s(lambda: _add(spec.zero(), kind, keys, 1))
        a = _add(spec.zero(), kind, a_keys, 1)
        b = _add(spec.zero(), kind, b_keys, 2)
        payload = a.merge(b).to_bytes()
        out[f"sketches.{kind}.add_keys_per_s"] = keys.size / add_s
        out[f"sketches.{kind}.merge_s"] = _median_s(lambda: a.merge(b))
        out[f"sketches.{kind}.decode_s"] = _median_s(lambda: sketch_from_bytes(payload))
        out[f"sketches.{kind}.payload_bytes"] = float(len(payload))
        if kind == "tbf":
            merged = a.merge(b)
            out["sketches.tbf.contains_keys_per_s"] = keys.size / _median_s(
                lambda: merged.contains_batch(keys, 2)
            )
    out["hashing.hash_pair_keys_per_s"] = keys.size / _median_s(lambda: hash_pair(keys))
    return out
