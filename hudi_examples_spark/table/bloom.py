"""Per-file record-key bloom filters — the filter phase of Hudi's BLOOM index.

The table's key-range index (``Table._range_hits``, a step of the key
locator ``Table._locate_keys``) is the range-pruning phase of Hudi's bloom
index: great when keys are clustered per file (sequential ids, sorted bulk
loads), useless when keys are uniformly random (UUIDs) — every file's
[min, max] spans the whole key space and the location scan degrades to the
full file list. Hudi's answer is a bloom filter
per base file (``hoodie.index.type=BLOOM``, the default index the reference's
quickstart writes with — parquet footers carry
``org.apache.hudi.bloomfilter``); ours is the same structure in a sidecar.

Scale shape (the part that must survive 100 TB):
- filters are built from the key column of files JUST written (bounded by the
  commit, read column-pruned via pyarrow, thread-parallel — never a table scan);
- probing BROADCASTS the bounded filter metadata (~1.2 KB per 1k keys at 1%
  FPP) and map-partitions over the incoming-key DataFrame — the keys are never
  collected to the driver, only matched FILE NAMES come back (same contract as
  the range join);
- a membership test is vectorized numpy over the whole Arrow batch of keys —
  no per-row Python in the hot loop.

Hashing is Kirsch-Mitzenmacher double hashing (pos_i = h1 + i*h2 mod m) over a
blake2b-derived (h1, h2) pair — stable across processes/platforms, unlike
Python's seeded ``hash()``.
"""

from __future__ import annotations

import base64
import hashlib
import math

import numpy as np

#: probe cost and sidecar size both scale with bits-per-key ≈ -1.44*log2(fpp).
#: A batch probing B keys keeps a file with P ≈ B*fpp, so the per-key rate must
#: be far below 1/batch-size for pruning to bite — Hudi's default is 1e-9
#: (hoodie.index.bloom.fpp) for the same reason; 1e-4 (~19 bits/key, 2.4 KB per
#: 1k keys) balances that against sidecar size at this engine's file sizes.
DEFAULT_FPP = 1e-4
_U64 = np.uint64


def bloom_params(n_keys: int, fpp: float = DEFAULT_FPP) -> tuple[int, int]:
    """Optimal (m_bits, k_hashes) for ``n_keys`` at false-positive rate ``fpp``."""
    n = max(n_keys, 1)
    m = max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def key_hashes(keys: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 pairs per key, from the first 16 blake2b digest bytes.

    The per-key digest loop is Python, but it runs once per Arrow batch on the
    executor (build side: once per written file), never per (key, file) pair —
    the quadratic part of probing stays inside vectorized numpy.
    """
    h1 = np.empty(len(keys), dtype=_U64)
    h2 = np.empty(len(keys), dtype=_U64)
    for i, key in enumerate(keys):
        d = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
        h1[i] = int.from_bytes(d[:8], "little")
        h2[i] = int.from_bytes(d[8:], "little") | 1  # odd ⇒ full-period stride
    return h1, h2


def build_bloom(keys: list[str], fpp: float = DEFAULT_FPP) -> dict:
    """Serialize a bloom over ``keys`` as a JSON-safe dict (bits base64-packed)."""
    m, k = bloom_params(len(keys), fpp)
    bits = np.zeros(m, dtype=bool)
    if keys:
        h1, h2 = key_hashes(keys)
        strides = np.arange(k, dtype=_U64)
        # uint64 wrap-around is fine: build and probe wrap identically
        pos = (h1[:, None] + strides[None, :] * h2[:, None]) % _U64(m)
        bits[pos.astype(np.int64).ravel()] = True
    return {
        "m": m,
        "k": k,
        "n": len(keys),
        "bits": base64.b64encode(np.packbits(bits).tobytes()).decode("ascii"),
    }


def build_bloom_fixed(keys: list[str], m: int, k: int) -> dict:
    """Bloom over ``keys`` at a CALLER-CHOSEN (m, k) — the distributed-build
    primitive: partitions each build a partial filter at the same shape, and
    ``merge_blooms`` ORs the partials into the corpus filter. (``build_bloom``
    sizes per-file filters locally; mergeable filters must agree on shape.)"""
    bits = np.zeros(m, dtype=bool)
    if keys:
        h1, h2 = key_hashes(keys)
        strides = np.arange(k, dtype=_U64)
        pos = (h1[:, None] + strides[None, :] * h2[:, None]) % _U64(m)
        bits[pos.astype(np.int64).ravel()] = True
    return {
        "m": m,
        "k": k,
        "n": len(keys),
        "bits": base64.b64encode(np.packbits(bits).tobytes()).decode("ascii"),
    }


def merge_blooms(blooms: list[dict]) -> dict:
    """OR-merge same-shape partial blooms (distributed build, step 2)."""
    if not blooms:
        raise ValueError("nothing to merge")
    m, k = blooms[0]["m"], blooms[0]["k"]
    if any(b["m"] != m or b["k"] != k for b in blooms):
        raise ValueError("blooms must share (m, k) to merge")
    acc = np.zeros(m, dtype=bool)
    for b in blooms:
        acc |= _unpack_bits(b).astype(bool)
    return {
        "m": m,
        "k": k,
        "n": sum(b["n"] for b in blooms),
        "bits": base64.b64encode(np.packbits(acc).tobytes()).decode("ascii"),
    }


def _unpack_bits(bloom: dict) -> np.ndarray:
    raw = np.frombuffer(base64.b64decode(bloom["bits"]), dtype=np.uint8)
    return np.unpackbits(raw)[: bloom["m"]]


def bloom_any_contains(bloom: dict, h1: np.ndarray, h2: np.ndarray) -> bool:
    """True iff ANY of the pre-hashed keys may be in the filter (file must be
    kept); False is definite (file safely pruned)."""
    if not len(h1):
        return False
    bits = _unpack_bits(bloom)
    strides = np.arange(bloom["k"], dtype=_U64)
    pos = (h1[:, None] + strides[None, :] * h2[:, None]) % _U64(bloom["m"])
    return bool(bits[pos.astype(np.int64)].all(axis=1).any())


def bloom_contains(bloom: dict, keys: list[str]) -> np.ndarray:
    """Per-key membership vector (True = maybe present). Test/debug helper."""
    if not keys:
        return np.zeros(0, dtype=bool)
    h1, h2 = key_hashes(keys)
    bits = _unpack_bits(bloom)
    strides = np.arange(bloom["k"], dtype=_U64)
    pos = (h1[:, None] + strides[None, :] * h2[:, None]) % _U64(bloom["m"])
    return bits[pos.astype(np.int64)].all(axis=1)
