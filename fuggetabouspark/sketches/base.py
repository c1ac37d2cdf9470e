"""Shared sketch machinery: the commutative-monoid contract and a
canonical, platform-independent serialization.

Every sketch in this package is an **associative, commutative monoid**
(SURVEY.md §7.4): ``merge(a, merge(b, c)) == merge(merge(a, b), c)``
and ``merge(a, b) == merge(b, a)`` down to serialized bytes. That is
the property the distributed layer leans on — partials produced on any
executor in any order tree-reduce to identical final bytes.

Serialization is explicit little-endian with a versioned header, so a
sketch written on one platform round-trips anywhere:

    magic(4s) ver(u8) name_len(u8) name params_len(u32) params_json
    n_items(u64) n_arrays(u8) then per array:
    dtype_len(u8) dtype_str shape_ndim(u8) shape(u64*) raw LE bytes
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"FGAS"
CMAGIC = b"FGAZ"  # zlib-wrapped container
VERSION = 1

# Partial sketch arrays are mostly zeros at low fill (a partition sees
# only its slice of the key space), so zlib level 1 shrinks shuffle
# payloads 10-20x for ~10 ms per partial — measured, not guessed.
# Deterministic for a fixed level AND a fixed zlib build: canonical-
# bytes holds within one cluster image, but a different zlib
# implementation (e.g. zlib-ng) may emit different bytes for equal
# payloads, so cross-machine byte comparisons must decompress first
# (merge/equality already do — they operate on decompressed arrays).
_ZLEVEL = 1


def compress_blob(raw: bytes) -> bytes:
    return CMAGIC + zlib.compress(raw, _ZLEVEL)


def decompress_blob(buf: bytes) -> bytes:
    if bytes(buf[:4]) == CMAGIC:
        return zlib.decompress(memoryview(buf)[4:])
    return buf


def _le(a: np.ndarray) -> np.ndarray:
    """Return array coerced to little-endian layout."""
    dt = a.dtype.newbyteorder("<")
    return a.astype(dt, copy=False)


def write_header(name: str, params_json: str, n_items: int, count: int) -> list[bytes]:
    """The header every sketch payload starts with (module docstring):
    magic, version, name, params, n_items and the ``count`` of the
    parts that follow (arrays, or an STBF's tiers)."""
    pj = params_json.encode()
    return [
        MAGIC, struct.pack("<BB", VERSION, len(name)), name.encode(),
        struct.pack("<I", len(pj)), pj, struct.pack("<QB", n_items, count),
    ]


def read_header(mv: memoryview) -> tuple[str, str, int, int, int]:
    """write_header's fields read back from the decompressed payload
    ``mv``: ``(name, params_json, n_items, count, offset)``, with
    ``offset`` where the parts begin."""
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad sketch magic")
    ver, nlen = struct.unpack_from("<BB", mv, 4)
    if ver != VERSION:
        raise ValueError(f"unsupported sketch version {ver}")
    off = 6
    name = bytes(mv[off : off + nlen]).decode()
    off += nlen
    (plen,) = struct.unpack_from("<I", mv, off)
    off += 4
    params_json = bytes(mv[off : off + plen]).decode()
    off += plen
    n_items, count = struct.unpack_from("<QB", mv, off)
    return name, params_json, int(n_items), count, off + 9


def pack(name: str, params_json: str, n_items: int, arrays: list[np.ndarray]) -> bytes:
    out = write_header(name, params_json, n_items, len(arrays))
    for a in arrays:
        a = np.ascontiguousarray(_le(a))
        ds = a.dtype.newbyteorder("<").str.encode()  # e.g. b'<u2'
        out.append(struct.pack("<B", len(ds)))
        out.append(ds)
        out.append(struct.pack("<B", a.ndim))
        out.append(struct.pack(f"<{a.ndim}Q", *a.shape) if a.ndim else b"")
        out.append(a.tobytes())
    return compress_blob(b"".join(out))


def unpack(buf: bytes) -> tuple[str, str, int, list[np.ndarray]]:
    mv = memoryview(decompress_blob(buf))
    name, params_json, n_items, n_arrays, off = read_header(mv)
    arrays = []
    for _ in range(n_arrays):
        (dlen,) = struct.unpack_from("<B", mv, off)
        off += 1
        dtype = np.dtype(bytes(mv[off : off + dlen]).decode())
        off += dlen
        (ndim,) = struct.unpack_from("<B", mv, off)
        off += 1
        shape = struct.unpack_from(f"<{ndim}Q", mv, off) if ndim else ()
        off += 8 * ndim
        count = int(np.prod(shape)) if ndim else 1
        nbytes = count * dtype.itemsize
        a = np.frombuffer(mv[off : off + nbytes], dtype=dtype).reshape(shape)
        off += nbytes
        arrays.append(a.copy())  # own the memory; native byte order
    return name, params_json, n_items, arrays


def weighted_quantiles(values: np.ndarray, weights: np.ndarray, qs) -> np.ndarray:
    """Quantiles of a weighted, ASCENDING-sorted sample via the
    standard cumulative-midpoint interpolation (shared by TDigest and
    KLL — both keep their samples canonically sorted)."""
    if values.size == 0:
        return np.full(np.asarray(qs).shape, np.nan)
    w = weights.astype(np.float64, copy=False)
    cum = np.cumsum(w) - w / 2.0
    total = float(w.sum())
    targets = np.clip(np.asarray(qs, dtype=np.float64), 0.0, 1.0) * total
    return np.interp(targets, cum, values, left=values[0], right=values[-1])


def as_keys(key) -> np.ndarray:
    """Scalar key → one-element int64 array for the batch kernels.
    Strings hash through hash64_strings (the same mapping the pipeline
    uses for doc_id columns), so `f.add("user-42"); "user-42" in f`
    works exactly like upstream fuggetaboutit's hashable-key API."""
    if isinstance(key, str):
        from ..hashing import hash64_strings

        return hash64_strings([key]).view(np.int64)
    return np.array([key], dtype=np.int64)


class Sketch:
    """Minimal shared surface; concrete sketches define NAME and the
    zero/update/merge/to_bytes/from_bytes quintet.

    Upstream-parity operator: ``a + b`` merges two same-geometry
    sketches (fuggetaboutit's ``__add__``); merge() always returns a
    NEW sketch, so ``+`` is side-effect-free."""

    NAME = "?"

    def __add__(self, other) -> "Sketch":
        return self.merge(other)

    def __eq__(self, other) -> bool:  # byte-level equality is the contract
        return type(self) is type(other) and self.to_bytes() == other.to_bytes()

    def __hash__(self):
        return hash(self.to_bytes())

    def to_bytes(self) -> bytes:  # pragma: no cover - abstract
        raise NotImplementedError
