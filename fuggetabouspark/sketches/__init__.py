"""Sketch registry: every sketch is a commutative monoid with canonical
byte serialization (see base.py)."""

from .base import Sketch, pack, unpack
from .cbf import CountingBloomFilter
from .cms import CountMinSketch
from .hll import HyperLogLog
from .kll import KLL
from .mg import MGParams, MisraGries
from .stbf import ScalingTimingBloomFilter
from .tbf import TimingBloomFilter
from .tdigest import TDigest

REGISTRY = {
    cls.NAME: cls
    for cls in (
        CountingBloomFilter,
        TimingBloomFilter,
        ScalingTimingBloomFilter,
        HyperLogLog,
        CountMinSketch,
        TDigest,
        KLL,
        MisraGries,
    )
}


def sketch_from_bytes(buf: bytes) -> Sketch:
    """Dispatch on the serialized sketch name."""
    from .base import decompress_blob, read_header

    raw = decompress_blob(buf)
    name = read_header(memoryview(raw))[0]
    if name not in REGISTRY:
        raise ValueError(f"unknown sketch kind {name!r}")
    return REGISTRY[name].from_bytes(raw)


__all__ = [
    "Sketch",
    "CountingBloomFilter",
    "TimingBloomFilter",
    "ScalingTimingBloomFilter",
    "HyperLogLog",
    "CountMinSketch",
    "TDigest",
    "KLL",
    "MisraGries",
    "MGParams",
    "REGISTRY",
    "sketch_from_bytes",
    "pack",
    "unpack",
]
