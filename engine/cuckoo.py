"""Partitioned cuckoo-filter variant of the URL-seen sidecar (D1/D3).

BASELINE.json:6 names a "partitioned cuckoo/bloom URL-seen filter";
engine/seen.py is the bloom realization, this module the cuckoo one —
same blob-per-partition storage contract (SEEN_FILTER schema, kind =
'cuckoo'), same exactness story (the filter only routes; D2's anti-join
stays exact), plus the cuckoo-specific win: ~2-4x lower FPR at equal
bits for fingerprint sizes >= 12.

Layout inside ``bits``: ``nb`` buckets x 4 slots of uint16 fingerprints
(0 = empty), little-endian, plus a small spill stash of int64 hashes for
items evicted past MAX_KICKS (bounded; counted in n_items).  The probe is
numpy-vectorized per Arrow batch; the insert places each hash in a Python
loop, so a cuckoo crawl pays per-URL Python in its D3 filter write.
"""

from __future__ import annotations

import numpy as np

SLOTS = 4
MAX_KICKS = 32
FP_BITS = 16
_EMPTY = 0
_STASH_CAP = 256  # int64 slots appended after the table


def _check_nb(nb: int) -> int:
    """The bucket-pair involution alt = b XOR H(fp) (mod nb) only closes
    when nb is a power of two: for any other nb an evicted victim can land
    outside its probe pair, producing FALSE NEGATIVES (measured: 7/17000
    at nb=7000) — and a seen-filter FN bypasses the exact D2 anti-join,
    breaking the engine's exactness contract.  Enforced everywhere a table
    is created or decoded; callers derive nb via buckets_for."""
    if nb <= 0 or (nb & (nb - 1)) != 0:
        raise ValueError(f"cuckoo nb_buckets must be a power of two, got {nb}")
    return nb


def round_down_pow2(n: int) -> int:
    """Largest power of two <= n (>=1)."""
    return 1 << max(0, n.bit_length() - 1)


def buckets_for(nbits: int) -> int:
    """Bucket count of the table stored in an ``nbits`` blob (the stash
    aside): the largest power of two that fits."""
    return round_down_pow2(nbits // (FP_BITS * SLOTS))


def _fingerprint(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the high bits of the 64-bit hash."""
    fp = ((h.view(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == _EMPTY] = 1
    return fp


def _alt_bucket(b, fp, nb: int) -> np.ndarray:
    """The other bucket of ``fp``'s pair, elementwise (arrays or scalars)."""
    # standard partial-key cuckoo: alt = b XOR H(fp); H = splitmix-ish odd mult
    hfp = (np.asarray(fp).astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)
    b = np.asarray(b, dtype=np.int64).view(np.uint64)
    return ((b ^ hfp) & np.uint64(nb - 1)).astype(np.int64)


def _keys(hashes: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fingerprint, bucket1, bucket2) of each hash in an ``nb``-bucket table."""
    fp = _fingerprint(hashes)
    b1 = (hashes.view(np.uint64) & np.uint64(nb - 1)).astype(np.int64)
    return fp, b1, _alt_bucket(b1, fp, nb)


def new_table(nb_buckets: int) -> np.ndarray:
    return np.zeros(_check_nb(nb_buckets) * SLOTS, dtype=np.uint16)


def to_blob(table: np.ndarray, stash: np.ndarray) -> bytes:
    pad = np.zeros(_STASH_CAP - len(stash), dtype=np.int64)
    return table.tobytes() + np.concatenate([stash, pad]).tobytes() + np.int64(len(stash)).tobytes()


def from_blob(blob: bytes, nb_buckets: int) -> tuple[np.ndarray, np.ndarray]:
    tbytes = _check_nb(nb_buckets) * SLOTS * 2
    table = np.frombuffer(blob[:tbytes], dtype=np.uint16).copy()
    rest = np.frombuffer(blob[tbytes:], dtype=np.int64)
    n_stash = int(rest[-1])
    return table, rest[:n_stash].copy()


def insert_many(table: np.ndarray, stash: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Bulk insert; returns the (possibly grown) stash.  The keys are
    computed vectorized, then each hash is placed in a Python loop; the
    eviction loop only touches the few collisions (amortized O(1)
    kicks/item at <=95% load)."""
    nb = len(table) // SLOTS
    fp, b1, b2 = _keys(hashes, nb)
    overflow: list[int] = []
    rng = np.random.default_rng(42)  # deterministic kick choice
    for f, x, y in zip(fp, b1, b2):
        placed = False
        for b in (int(x), int(y)):
            base = b * SLOTS
            row = table[base : base + SLOTS]
            if f in row:  # already present
                placed = True
                break
            empt = np.flatnonzero(row == _EMPTY)
            if len(empt):
                table[base + empt[0]] = f
                placed = True
                break
        if placed:
            continue
        cur_fp, cur_b = int(f), int(x)
        for _ in range(MAX_KICKS):
            base = cur_b * SLOTS
            slot = int(rng.integers(SLOTS))
            cur_fp, table[base + slot] = int(table[base + slot]), cur_fp
            cur_b = int(_alt_bucket(cur_b, cur_fp, nb))
            base = cur_b * SLOTS
            row = table[base : base + SLOTS]
            empt = np.flatnonzero(row == _EMPTY)
            if len(empt):
                table[base + empt[0]] = cur_fp
                cur_fp = -1
                break
        if cur_fp != -1:
            overflow.append(cur_fp)  # keep fingerprint in stash (as fp value)
    if overflow:
        stash = np.concatenate([stash, np.array(overflow, dtype=np.int64)])
        if len(stash) > _STASH_CAP:
            raise RuntimeError(
                f"cuckoo stash overflow ({len(stash)}): table over-loaded, "
                "raise nb_buckets for this partition"
            )
    return stash


def probe_many(table: np.ndarray, stash: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: fp present in bucket1 or bucket2 (or stash)."""
    fp, b1, b2 = _keys(hashes, len(table) // SLOTS)
    hit = np.zeros(len(hashes), dtype=bool)
    for b in (b1, b2):
        rows = table[(b[:, None] * SLOTS + np.arange(SLOTS)[None, :])]
        hit |= (rows == fp[:, None]).any(axis=1)
    if len(stash):
        hit |= np.isin(fp.astype(np.int64), stash)
    return hit

