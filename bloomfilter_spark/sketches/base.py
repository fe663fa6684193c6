"""Common sketch contract.

Every sketch is a mergeable aggregation state:

  zero (constructor) -> update(batch) [vectorized numpy] -> to_bytes()
  from_bytes(b) ; merge(other) associative + commutative, zero is identity

Serialization is a canonical little-endian layout (params header + packed
payload) so serialized sketches ARE portable — improving on the reference's
documented non-guarantee (Data/BloomFilter.hs:67-69). Hash-keyed sketches
(Bloom, HLL, CMS) consume a pre-hashed uint64 column (Spark xxhash64, JVM
side); value sketches (t-digest, KLL) consume float64 values.
"""

from __future__ import annotations

import struct
import zlib
from abc import ABC, abstractmethod

import numpy as np

_MAGIC = b"SKCH"
# v2: Bloom/HLL payloads carry a mode byte (dense | sparse index/value
# pairs). v1 blobs of THOSE types (raw dense arrays, no mode byte) are
# rejected with a clear version error instead of a confusing
# payload-shape error; every other type's payload layout is unchanged, so
# its v1 blobs remain readable (MIN_WIRE_VERSION below) — a persisted
# warehouse only needs the Bloom/HLL tables rebuilt, not everything.
# v3: header gains a CRC32 of params+payload. Length checks alone cannot
# catch truncation of the variable-count layouts (sparse Bloom/HLL pairs,
# theta retained samples): a prefix cut at an entry boundary parses as a
# VALID smaller state — for a Bloom blob that is silent false negatives,
# the one failure mode the membership contract forbids. At 100 TB a blob
# crosses shuffle, disk, and warehouse many times; corruption must fail
# loudly at read, not surface as wrong estimates. v1/v2 blobs (no CRC)
# remain readable per each type's MIN_WIRE_VERSION — integrity is checked
# exactly when the writer promised it (version >= 3).
# v4: the CRC covers the HEADER too (magic/version/tag/plen + body), so a
# header flip is caught structurally instead of by whichever per-type
# params guard the mis-sliced body happens to trip. The v3 gap: plen and
# tag sat outside the CRC; fuzzing showed every flip still raised, but
# only because each type's reconstruction validated geometry — v4 makes
# that a wire guarantee, not an emergent property. Layouts are unchanged
# (no MIN_WIRE_VERSION bump); v3 blobs verify body-only CRC as written.
# A v4 blob whose version byte is flipped cannot sneak into a weaker
# path: all single-bit flips of 0x04 land outside [1, 4] except 0x00
# (rejected by MIN_WIRE_VERSION >= 1), and any multi-bit flip to 3 fails
# the CRC check (stored word covers the header, v3 recompute does not).
_VERSION = 4
_HEADER = "<4sBBI"
_HEADER_LEN = struct.calcsize(_HEADER)


class Sketch(ABC):
    #: subclass tag byte used in the serialized header
    TYPE_TAG: int = 0
    #: True if update() consumes uint64 hashes, False if float64 values
    HASH_KEYED: bool = True
    #: oldest wire version whose payload layout this type still parses;
    #: bumped per-type only when that type's payload actually changes
    MIN_WIRE_VERSION: int = 1

    @abstractmethod
    def update(self, data: np.ndarray) -> None: ...

    @abstractmethod
    def merge(self, other: "Sketch") -> "Sketch":
        """In-place merge of ``other`` into self; returns self."""

    @abstractmethod
    def _payload(self) -> tuple[bytes, bytes]:
        """Return (params_bytes, payload_bytes)."""

    @classmethod
    @abstractmethod
    def _from_payload(cls, params: bytes, payload: bytes) -> "Sketch": ...

    def to_bytes(self) -> bytes:
        params, payload = self._payload()
        body = params + payload
        header = struct.pack(_HEADER, _MAGIC, _VERSION, self.TYPE_TAG, len(params))
        return header + struct.pack("<I", zlib.crc32(header + body)) + body

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Sketch":
        if len(buf) < _HEADER_LEN:
            raise ValueError(
                f"sketch blob shorter than the {_HEADER_LEN}-byte header "
                f"({len(buf)} bytes) — truncated or not a sketch")
        magic, version, tag, plen = struct.unpack_from(_HEADER, buf, 0)
        if magic != _MAGIC or not (cls.MIN_WIRE_VERSION <= version <= _VERSION):
            raise ValueError(
                f"bad sketch serialization header (magic={magic!r}, "
                f"version={version}, this engine writes v{_VERSION} and "
                f"{cls.__name__} reads v{cls.MIN_WIRE_VERSION}+; older "
                f"blobs predate a payload-layout change for this type — "
                f"rebuild the sketch table)")
        if tag != cls.TYPE_TAG:
            raise ValueError(f"sketch type mismatch: got {tag}, want {cls.TYPE_TAG}")
        off = _HEADER_LEN
        if version >= 3:
            if len(buf) < off + 4:
                raise ValueError("sketch blob truncated inside the CRC word")
            (crc,) = struct.unpack_from("<I", buf, off)
            off += 4
            body = buf[off:]
            # v3 wrote crc32(body); v4 folds the header in so tag/plen
            # flips fail here instead of in per-type reconstruction
            covered = buf[:_HEADER_LEN] + body if version >= 4 else body
            if zlib.crc32(covered) != crc:
                raise ValueError(
                    f"sketch blob failed CRC32 integrity check "
                    f"({cls.__name__}, {len(buf)} bytes) — corrupted or "
                    f"truncated in transit/storage; rebuild or re-fetch it")
        if len(buf) < off + plen:
            raise ValueError(
                f"sketch blob truncated inside the params block "
                f"(have {len(buf) - off}, header promises {plen})")
        try:
            return cls._from_payload(buf[off:off + plen], buf[off + plen:])
        except ValueError:
            raise
        except Exception as e:
            # A corrupt header can mis-slice the body past the CRC's reach
            # (e.g. a bit flip downgrading the version byte to pre-CRC v2
            # makes the CRC word parse as params): whatever the per-type
            # reconstruction trips over (struct.error, KeyError, ...),
            # callers must see one exception type for "corrupt blob".
            raise ValueError(
                f"corrupt sketch blob ({cls.__name__}, {len(buf)} bytes): "
                f"state reconstruction failed "
                f"({type(e).__name__}: {e})") from e

    @property
    def state_nbytes(self) -> int:
        """In-memory state size in bytes — what a partial COSTS an executor
        and (worst case) the wire. Planning decisions (e.g. the build
        core's large-state coalesce) must use this, NOT len(to_bytes()): sparse
        serialization makes an empty sketch's wire size ~20 bytes while
        its task still allocates the full dense array."""
        return len(self.to_bytes())

    def copy(self) -> "Sketch":
        return type(self).from_bytes(self.to_bytes())
