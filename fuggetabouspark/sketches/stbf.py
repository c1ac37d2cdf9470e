"""ScalingTimingBloomFilter — tiered TimingBloomFilters that grow when
the active tier's fill-ratio exceeds the budget.

Reimplements the semantics of upstream fuggetaboutit's
ScalingTimingBloomFilter (SURVEY.md §2.2,
[U:fuggetaboutit/scaling_timing_bloom_filter.py]), which follows the
Scalable Bloom Filter construction [P:Almeida et al., IPL 2007]:
tier i has capacity ``capacity * growth**i`` and error
``error * (1-r) * r**i`` so the total error stays <= the budget;
inserts land in the newest tier and a fresh tier is allocated when the
fill-ratio crosses ``max_fill_factor``; membership ORs across tiers;
decay expires buckets per tier.

Distributed design (SURVEY.md §7.5): tier geometry is a pure function
of (params, i), identical on every executor, so partials that grew
different ladder heights merge tier-wise — elementwise max per tier,
missing tiers treated as zeros — which is associative, commutative and
idempotent. Canonical form strips trailing all-empty tiers so equal
states are byte-equal.
"""

from __future__ import annotations

import struct

import numpy as np

from ..params import ScalingParams, params_from_json, params_to_json
from .base import Sketch, compress_blob, decompress_blob, read_header, write_header
from .tbf import TimingBloomFilter


class ScalingTimingBloomFilter(Sketch):
    NAME = "stbf"

    def __init__(self, params: ScalingParams, tiers: list[TimingBloomFilter] | None = None, n_items: int = 0):
        self.params = params
        self.tiers = tiers if tiers is not None else []
        self.n_items = int(n_items)
        # exact per-tier insert counters live on each TBF's n_items

    @classmethod
    def zero(cls, params: ScalingParams) -> "ScalingTimingBloomFilter":
        return cls(params)

    def _ensure_tier(self, i: int) -> TimingBloomFilter:
        while len(self.tiers) <= i:
            if len(self.tiers) >= self.params.max_tiers:
                raise RuntimeError(f"STBF exceeded max_tiers={self.params.max_tiers}")
            self.tiers.append(TimingBloomFilter.zero(self.params.tier(len(self.tiers))))
        return self.tiers[i]

    # ---- update ----
    def add_batch(self, keys: np.ndarray, key_ticks: np.ndarray | int, pair=None) -> "ScalingTimingBloomFilter":
        """Insert into the newest tier, growing a new tier whenever the
        newest tier's fill-ratio exceeds max_fill_factor.

        The batch is chunked by the newest tier's remaining insert
        budget so one huge batch cannot blow a small tier's FPR —
        matching upstream's per-key fill check at batch granularity.

        Accounting note: the OUTER n_items is the raw-item contract
        (callers like pipeline._apply_update pin it to the raw count
        under batch dedup); the inner tiers' n_items count what each
        tier was fed, which depends on batch boundaries by construction
        (a duplicate key arriving in two batches may hit two tiers).
        Tier counters are advisory: growth never reads them — it uses
        the duplicate-insensitive fill-derived distinct estimate below.
        """
        keys = np.asarray(keys)
        if keys.size == 0:
            return self
        scalar_tick = np.ndim(key_ticks) == 0
        kt = None if scalar_tick else np.asarray(key_ticks, dtype=np.int64)
        from ..hashing import hash_pair

        h1, h2 = pair if pair is not None else hash_pair(keys)
        pos = 0
        d_prev = None
        dup_ratio = 1.0  # observed tokens per new distinct key
        while pos < keys.size:
            tail = self._ensure_tier(max(0, len(self.tiers) - 1))
            # upstream's growth rule: grow when the tier's fill factor
            # (DISTINCT inserts / capacity) exceeds max_fill_factor.
            # Distinct inserts are estimated from the bucket fill via
            # the Bloom model d = -(m/k) ln(1 - fill), which makes the
            # rule duplicate-insensitive — a 10^12-token stream over a
            # small vocab stays in one tier — while honoring the FPR
            # budget (fill at d = capacity is the geometry's design
            # point, ~0.5 bucket fill for optimal k).
            import math

            fill = tail.fill_ratio()
            d_est = -(tail.m / tail.k) * math.log(max(1e-12, 1.0 - fill))
            budget = int(self.params.max_fill_factor * tail.params.capacity - d_est)
            if budget <= 0:
                self._ensure_tier(len(self.tiers))  # grow, retry loop
                d_prev = None
                continue
            # budget is in DISTINCT keys; scale the token chunk by the
            # observed duplication ratio so a duplicate-heavy stream
            # (10^12 tokens over a small vocab) advances in O(log)
            # chunks instead of one fill-check per `budget` tokens
            if d_prev is not None and d_est > d_prev + 1:
                dup_ratio = chunk_len / (d_est - d_prev)  # adapt, don't latch
            elif d_prev is not None:
                dup_ratio *= 2.0  # fill stalled: pure duplicates, ramp up
            d_prev = d_est
            floor = min(256, tail.params.capacity // 10) or 1
            # hard safety cap: even if EVERY token in the chunk were a
            # new distinct key, this tier's fill stays <= ~0.6 (FPR
            # ~0.6^k, a bounded excursion the next fill check corrects
            # by growing a tier) — without it, a duplicate-heavy
            # stretch ramps dup_ratio and a following burst of novel
            # keys could blow the tier's FPR in one oversized chunk
            worst_case_cap = int((tail.m / tail.k) * math.log(max(1e-12, 1.0 - fill) / 0.4))
            chunk_len = max(floor, min(int(budget * min(dup_ratio, 1e6)), max(budget, worst_case_cap)))
            chunk = slice(pos, pos + chunk_len)
            tail.add_batch(
                keys[chunk],
                key_ticks if scalar_tick else kt[chunk],
                pair=(h1[chunk], h2[chunk]),
            )
            pos += chunk_len
        self.n_items += int(keys.size)
        return self

    # ---- query ----
    def add(self, key, tick: int) -> "ScalingTimingBloomFilter":
        """fuggetaboutit-style scalar add; key may be int or str."""
        from .base import as_keys

        return self.add_batch(as_keys(key), tick)

    def contains(self, key, now: int) -> bool:
        from .base import as_keys

        return bool(self.contains_batch(as_keys(key), now)[0])

    def contains_batch(self, keys: np.ndarray, now: int, pair=None) -> np.ndarray:
        keys = np.asarray(keys)
        if keys.size and pair is None:
            from ..hashing import hash_pair

            pair = hash_pair(keys)  # hash once, reuse across every tier
        out = np.zeros(keys.shape, dtype=bool)
        for t in reversed(self.tiers):  # newest first, like upstream
            rem = ~out
            if not rem.any():
                break
            out[rem] |= t.contains_batch(
                keys[rem], now, pair=(pair[0][rem], pair[1][rem])
            )
        return out

    def last_seen_batch(self, keys: np.ndarray) -> np.ndarray:
        """Estimated last-sighting tick per key across tiers (0 = never
        seen): per tier, a key's estimate is the min over its k buckets
        but only counts when all k are nonzero (the key is IN that
        tier); the answer is the max over tiers — a key re-inserted
        into a newer tier reports the newer sighting."""
        keys = np.asarray(keys)
        out = np.zeros(keys.shape, dtype=np.int64)
        for t in self.tiers:
            est = t.last_seen_batch(keys)
            np.maximum(out, est, out=out)
        return out

    def decay(self, now: int) -> "ScalingTimingBloomFilter":
        for t in self.tiers:
            t.decay(now)
        self._strip_empty_tail()
        return self

    def expected_error(self) -> float:
        """Design-point error budget: 1 - prod(1 - e_i) over live tiers."""
        return self.params.expected_error(len(self.tiers))

    def effective_error(self, now: int | None = None) -> float:
        """REAL false-positive bound from observed bucket fills:
        per tier p_i = fill_i^k_i, total 1 - prod(1 - p_i). On a merged
        sketch this exposes overfilled tiers (e.g. tier unions from
        partials built without budget splitting) that the design-point
        formula would hide."""
        p = 1.0
        for t in self.tiers:
            if now is not None:
                t = TimingBloomFilter(t.params, t.ticks.copy(), t.n_items).decay(now)
            p *= 1.0 - t.fill_ratio() ** t.k
        return 1.0 - p

    def fill_ratios(self) -> list[float]:
        return [t.fill_ratio() for t in self.tiers]

    def __len__(self) -> int:
        return self.n_items

    def _strip_empty_tail(self) -> None:
        while self.tiers and not self.tiers[-1].ticks.any():
            self.tiers.pop()

    # ---- merge: tier-wise elementwise max, zero-padded ----
    def merge(self, other: "ScalingTimingBloomFilter") -> "ScalingTimingBloomFilter":
        if other.params != self.params:
            raise ValueError("geometry mismatch in STBF merge")
        n = max(len(self.tiers), len(other.tiers))
        tiers: list[TimingBloomFilter] = []
        for i in range(n):
            a = self.tiers[i] if i < len(self.tiers) else None
            b = other.tiers[i] if i < len(other.tiers) else None
            if a is not None and b is not None:
                tiers.append(a.merge(b))
            else:
                src = a if a is not None else b
                tiers.append(TimingBloomFilter(src.params, src.ticks.copy(), src.n_items))
        out = ScalingTimingBloomFilter(self.params, tiers, self.n_items + other.n_items)
        out._strip_empty_tail()
        return out

    # ---- serialization: header + concatenated tier blobs ----
    def to_bytes(self) -> bytes:
        # canonical form strips trailing empty tiers — on a LOCAL list,
        # never on self: __eq__/__hash__ call to_bytes and serialization
        # must not change observable state (tier count, fill_ratios)
        tiers = list(self.tiers)
        while tiers and not tiers[-1].ticks.any():
            tiers.pop()
        out = write_header(self.NAME, params_to_json(self.params), self.n_items, len(tiers))
        for t in tiers:
            blob = t.to_bytes()
            out.append(struct.pack("<Q", len(blob)))
            out.append(blob)
        return compress_blob(b"".join(out))

    @classmethod
    def from_bytes(cls, buf: bytes) -> "ScalingTimingBloomFilter":
        mv = memoryview(decompress_blob(buf))
        name, params_json, n_items, n_tiers, off = read_header(mv)
        if name != cls.NAME:
            raise ValueError(f"expected {cls.NAME}, got {name}")
        params = params_from_json(params_json)
        tiers = []
        for _ in range(n_tiers):
            (blen,) = struct.unpack_from("<Q", mv, off)
            off += 8
            tiers.append(TimingBloomFilter.from_bytes(bytes(mv[off : off + blen])))
            off += blen
        return cls(params, tiers, n_items)
