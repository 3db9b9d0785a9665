"""Cuckoo filter — the deletable kind of URL-seen prefilter.

North rule: "partitioned bloom-filter (with cuckoo-filter fallback
for deletes) URL-seen set".  Blooms cannot delete (clearing a bit may
clear other keys); a cuckoo filter stores displaceable 16-bit
fingerprints in two candidate buckets, so membership, insert AND
delete are all O(1) — for crawl policy that must *retract* URLs
(robots rule changes, recrawl scheduling, GDPR purges) without
rebuilding the prefilter.

:class:`CuckooTable` is one hash bucket's filter.  It has the
interface of :class:`~scalpel_ts_spark.operators.seen.Bloom` plus
``delete_many``, so it rides the one prefilter pipeline in
operators/seen.py (``build_filter``/``update_filter``/``prefilter``/
``new_urls``).  The exact seen table remains the authority; the
filter is only ever a prefilter.

Layout per table: ``n_buckets`` buckets x ``bucket_size`` slots of
uint16 fingerprints (0 = empty).  Classic Fan et al. partial-key
cuckoo hashing: bucket2 = bucket1 XOR H(fingerprint).
"""

from __future__ import annotations

import numpy as np

_FP_SEED = np.uint64(0x9E3779B97F4A7C15)
_MAX_KICKS = 500
#: serialization header: (magic, version, n_buckets, bucket_size) as
#: uint32 — geometry rides WITH the bytes so a probe configured with a
#: mismatched (n_buckets, bucket_size) whose product happens to match
#: fails loudly instead of silently reshaping into wrong bucket math
#: (wrong geometry = missed fingerprints = FALSE NEGATIVES, the one
#: failure class the no-false-negative contract forbids).
_MAGIC = 0x43554B46  # "CUKF"
_HEADER_BYTES = 16


class CuckooSaturationError(RuntimeError):
    """A bucket's cuckoo table could not hold every key.

    Dropped fingerprints would be silent FALSE NEGATIVES — callers of
    :func:`~scalpel_ts_spark.operators.seen.prefilter` rely on "no
    false negatives" to let ``maybe_seen = 0`` rows skip the exact
    anti-join, so saturation must fail loudly instead of corrupting
    the seen set.  Fix by raising the table geometry
    (``n_buckets``/``bucket_size``, capacity per table) or the
    pipeline's ``n_buckets`` (keys per table).
    """


class CuckooDeleteError(RuntimeError):
    """A delete targeted a key whose fingerprint is absent.

    The engine only deletes keys it previously inserted; a miss means
    either misuse or an earlier (now impossible, see
    :class:`CuckooSaturationError`) dropped insert.  Deleting a
    never-inserted key is also unsafe in general: if its fingerprint
    collides with another key's, the eviction creates a false negative
    for that other key — hence deletes are validated, not best-effort.
    """


class CuckooTable:
    """In-memory cuckoo filter over uint16 fingerprints (one hash
    bucket's state; (de)serialized to a binary column)."""

    __slots__ = ("n_buckets", "bucket_size", "slots")

    def __init__(self, n_buckets: int = 1 << 14, bucket_size: int = 4,
                 slots: np.ndarray | None = None):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be 2^k"
        self.n_buckets = n_buckets
        self.bucket_size = bucket_size
        self.slots = (
            slots
            if slots is not None
            else np.zeros((n_buckets, bucket_size), dtype=np.uint16)
        )

    # --- key decomposition -------------------------------------------------

    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h.astype(np.uint64) * _FP_SEED) >> np.uint64(48)).astype(
            np.uint16
        )
        fp[fp == 0] = 1  # 0 marks an empty slot
        return fp

    def _b1(self, h: np.ndarray) -> np.ndarray:
        return (h.astype(np.uint64) % np.uint64(self.n_buckets)).astype(
            np.int64
        )

    def _alt(self, b: np.ndarray, fp: np.ndarray) -> np.ndarray:
        step = (fp.astype(np.uint64) * _FP_SEED) >> np.uint64(32)
        return ((b.astype(np.uint64) ^ step) % np.uint64(self.n_buckets)).astype(
            np.int64
        )

    def _alt_one(self, b: int, fp: int) -> int:
        # same math as the vectorized _alt, in Python ints (numpy
        # SCALAR uint64 ops warn on the intended mod-2^64 wrap)
        step = ((int(fp) * int(_FP_SEED)) & 0xFFFFFFFFFFFFFFFF) >> 32
        return (int(b) ^ step) % self.n_buckets

    # --- operations (vectorized insert + probe; scalar kick chains) --------

    def _bulk_place(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Place each ``fps[i]`` into an empty slot of ``buckets[i]``
        where capacity allows; returns the placed mask.

        Fully vectorized: keys are ranked within their target bucket
        (order of appearance) and the first ``empty_count`` ranks per
        bucket land in that bucket's empty slots — one fancy-indexed
        store for the whole batch, no per-key Python."""
        if len(buckets) == 0:
            return np.zeros(0, dtype=bool)
        ub, inv = np.unique(buckets, return_inverse=True)
        emask = self.slots[ub] == 0  # (u, bucket_size)
        ecount = emask.sum(axis=1)
        # empty slot positions first, stable, per bucket
        slot_order = np.argsort(~emask, kind="stable", axis=1)
        order = np.argsort(inv, kind="stable")
        counts = np.bincount(inv, minlength=len(ub))
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        ranks = np.empty(len(buckets), dtype=np.int64)
        ranks[order] = np.arange(len(buckets)) - np.repeat(starts, counts)
        placed = ranks < ecount[inv]
        rows = ub[inv[placed]]
        cols = slot_order[inv[placed], ranks[placed]]
        self.slots[rows, cols] = fps[placed]
        return placed

    def insert_many(self, hashes: np.ndarray) -> int:
        """Insert; returns number of failed insertions (table full).

        Two vectorized passes (all keys into bucket 1, the remainder
        into bucket 2) place everything except keys whose BOTH buckets
        are full; only those rare keys run the scalar
        eviction-chain loop (deterministic rng)."""
        fps = self._fp(hashes)
        b1s = self._b1(hashes)
        b2s = self._alt(b1s, fps)
        placed = self._bulk_place(b1s, fps)
        rem = np.flatnonzero(~placed)
        if len(rem):
            placed2 = self._bulk_place(b2s[rem], fps[rem])
            rem = rem[~placed2]
        failed = 0
        rng = np.random.default_rng(12345)  # deterministic kick choice
        for i in rem:
            b = int(b1s[i] if rng.integers(2) else b2s[i])
            cur = int(fps[i])
            for _ in range(_MAX_KICKS):
                slot = int(rng.integers(self.bucket_size))
                cur, self.slots[b, slot] = int(self.slots[b, slot]), cur
                b = self._alt_one(b, cur)
                row = self.slots[b]
                empty = np.nonzero(row == 0)[0]
                if len(empty):
                    row[empty[0]] = cur
                    cur = 0
                    break
            if cur:
                failed += 1
        return failed

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        fps = self._fp(hashes)
        b1 = self._b1(hashes)
        b2 = self._alt(b1, fps)
        in1 = (self.slots[b1] == fps[:, None]).any(axis=1)
        in2 = (self.slots[b2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete_many(self, hashes: np.ndarray) -> int:
        """Remove one matching fingerprint per key; returns misses."""
        fps = self._fp(hashes)
        b1s = self._b1(hashes)
        b2s = self._alt(b1s, fps)
        misses = 0
        for fp, b1, b2 in zip(fps, b1s, b2s):
            for b in (b1, b2):
                row = self.slots[b]
                hit = np.nonzero(row == fp)[0]
                if len(hit):
                    row[hit[0]] = 0
                    break
            else:
                misses += 1
        return misses

    # --- serialization -----------------------------------------------------

    def to_bytes(self) -> bytes:
        header = np.array(
            [_MAGIC, 1, self.n_buckets, self.bucket_size], dtype=np.uint32
        )
        return header.tobytes() + self.slots.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int | None = None,
                   bucket_size: int | None = None) -> "CuckooTable":
        """Deserialize using the blob's OWN geometry header; the
        optional args are validated against it (a mismatch means the
        caller's bucket math would differ from the builder's — false
        negatives — so it raises instead of reshaping)."""
        header = np.frombuffer(data[:_HEADER_BYTES], dtype=np.uint32)
        if len(header) != 4 or int(header[0]) != _MAGIC:
            raise ValueError(
                "cuckoo table blob lacks the geometry header (corrupt, "
                "or serialized by an incompatible version)"
            )
        nb, bs = int(header[2]), int(header[3])
        if n_buckets is not None and n_buckets != nb:
            raise ValueError(
                f"cuckoo geometry mismatch: blob has n_buckets={nb}, "
                f"caller expected {n_buckets}"
            )
        if bucket_size is not None and bucket_size != bs:
            raise ValueError(
                f"cuckoo geometry mismatch: blob has bucket_size={bs}, "
                f"caller expected {bucket_size}"
            )
        slots = (
            np.frombuffer(data[_HEADER_BYTES:], dtype=np.uint16)
            .reshape(nb, bs)
            .copy()
        )
        return cls(nb, bs, slots)
