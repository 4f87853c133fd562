"""Order-independent table fingerprints shared by the Flight client and the
checker. Both are wrapping uint64 sums of a per-row hash, so the
fingerprints of disjoint slices add up to the fingerprint of their union.

- keyed rows ``(id, v)`` of the write asset: a multiplicative mix;
- ``repo_files`` rows: the first 16 hex digits of the sha256 of
  ``repo|path|commit|lang|content`` (null as empty), the per-row hash of
  ``LakeTable.digest``.
"""

from __future__ import annotations

import hashlib

import numpy as np

_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xC2B2AE3D27D4EB4F)
MASK = (1 << 64) - 1
ROW_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def fingerprint(ids, vs) -> int:
    ids = np.asarray(ids, dtype=np.int64).view(np.uint64)
    vs = np.asarray(vs, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = (ids * _M1) ^ ((vs + np.uint64(1)) * _M2)
        h ^= h >> np.uint64(29)
        return int(h.sum(dtype=np.uint64))


def row_hash_fp(hex_hashes) -> int:
    return sum(int(h[:16], 16) for h in hex_hashes) & MASK


def of_table(table) -> int:
    if "id" in table.column_names:
        return fingerprint(table.column("id").to_numpy(), table.column("v").to_numpy())
    cols = [table.column(c).to_pylist() for c in ROW_COLUMNS]
    return row_hash_fp(
        hashlib.sha256("|".join("" if x is None else x for x in row).encode()).hexdigest()
        for row in zip(*cols)
    )
