"""Per-file bloom filters for upsert key-lookup pruning (Hudi BLOOM index).

The reference pins ``hoodie.index.type = BLOOM``
(``AirflowHudiLabs/Lab2/jobs/python/create_hudi_tables.py`` write
configs; see BASELINE.md storage knobs) — Hudi's default upsert index:
each data file carries a bloom filter over its record keys, and the
writer tests incoming batch keys against the filters to shrink the set
of files that must be read for merge resolution.

Why range stats aren't enough: the kernel's min/max key test
(:meth:`Table._key_probe`) drops a file only when no batch key falls in
the file's [min, max]. On an INTERLEAVED layout — keys hash-scattered
across files, so every file spans nearly the whole key domain — every
key falls in every range and the range test keeps every file. A bloom filter answers per-file membership instead of
per-file range, so a small scattered update batch prunes to just the
files that might actually hold a touched key (bounded false-positive
rate; false positives only cost an extra file read, never correctness).

Storage: one JSON sidecar PER WRITE ATTEMPT at
``_index/bloom/<commit>-<uuid8>.json``, named by the token of the data
directory it covers (:meth:`Table._bloom_sidecar_path` — an optimistic-
concurrency loser can only write a sidecar for its own orphaned
directory), mapping each data file written there to its filter
``{"m": bits, "k": probes, "b64": bit array}``. Sidecars of earlier
tables under the legacy per-commit name ``<commit>.json`` are still read
(:meth:`Table._bloom_for_entries`), by the key probe and the backfill
alike.
The commit manifests stay lean (a filter is ~1.2 KB/1k keys — inlining
it would bloat every timeline replay), and the sidecar scheme is
staleness-safe by construction, like the record index's covered set
(:meth:`Table._prune_by_record_index`): data files are immutable, each
sidecar covers exactly its own directory's files forever, and files
without a sidecar entry simply fall through unpruned until
:meth:`TableServices.build_bloom_index` backfills them.

Scale notes (100 TB): filters are built EXECUTOR-side in the same
distributed pass as footer stats (one key-column read of each freshly
written file — O(new data, one column), never O(table)); the prune
broadcasts candidate filters inside the keyed write's one key-probe pass
(:meth:`Table._key_probe`: a map-only job whose tasks return the ids of
the files their keys hit, no aggregate) and tests keys with
:func:`might_contain` (numpy-vectorized double hashing — no per-key
Python loop on the hot path). Past :data:`BLOOM_NARROW_BYTES` of
filters, a table with key range stats first takes the batch's key
envelope (one extra Spark job) so only the filters of files it overlaps
ship — time-ordered keys narrow to a handful. Broadcasting caps at
:data:`BLOOM_BROADCAST_CAP` total filter bytes (~50k files at default
sizing); files whose filter does not fit keep only their range and
bucket tests, and the record-level index — the engine's exact,
shuffle-joined lookup structure — is the right tool, mirroring Hudi's
own BLOOM → record-index escalation.
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np

# ~1% false-positive rate at k=7 (standard bloom sizing: m/n ≈ 9.6
# bits/key for p=0.01; 10 gives headroom). A false positive only costs
# reading one extra candidate file during merge resolution.
BLOOM_BITS_PER_KEY = 10
BLOOM_K = 7
# Broadcast no more than this many filter bytes per key probe — at that
# file count the record index (exact, distributed join) supersedes.
BLOOM_BROADCAST_CAP = 64 * 1024 * 1024
# Past this many filter bytes, the key probe spends one Spark job on the
# batch's key envelope so only the filters of overlapping files ship
# (~3.4k files of 1k keys); under it, shipping every filter is cheaper.
BLOOM_NARROW_BYTES = 4 * 1024 * 1024

_MASK64 = (1 << 64) - 1


def key_hash_pair(v) -> tuple[int, int]:
    """Two independent 64-bit hashes of a record key (Kirsch–Mitzenmacher
    double hashing: probe i = (h1 + i*h2) mod 2^64 mod m). ``h2`` is
    forced odd so probes cycle through distinct positions for power-of-
    two-ish m. Keys are canonicalized via ``str`` — build side (pyarrow
    ``to_pylist``) and probe side (Spark Row values) agree for the
    integral/string key types the filter supports."""
    d = hashlib.blake2b(str(v).encode("utf-8"), digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,
    )


def bloom_build(values) -> dict:
    """Build one filter over ``values``; returns the sidecar dict."""
    vals = values if isinstance(values, list) else list(values)
    n = max(1, len(vals))
    m = max(64, n * BLOOM_BITS_PER_KEY)
    m = (m + 7) // 8 * 8  # whole bytes
    bits = bytearray(m // 8)
    for v in vals:
        h1, h2 = key_hash_pair(v)
        for i in range(BLOOM_K):
            pos = ((h1 + i * h2) & _MASK64) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return {
        "m": m,
        "k": BLOOM_K,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def bloom_for_parquet_file(path: str, key_col: str) -> dict | None:
    """Executor-side: filter over one parquet file's key column (the
    only column read — a metadata+single-column pass over a file this
    writer just produced). Returns None if the file/column is
    unreadable (the file then stays bloom-uncovered, never mis-pruned).
    """
    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=[key_col])
        return bloom_build(tbl.column(key_col).to_pylist())
    except Exception:
        return None


def bloom_decode(bloom: dict) -> tuple[np.ndarray, int, int]:
    """Sidecar dict → (uint8 bit array, m, k) for vectorized probing."""
    bits = np.frombuffer(base64.b64decode(bloom["b64"]), dtype=np.uint8)
    return bits, int(bloom["m"]), int(bloom["k"])


def hash_pairs_array(values: list) -> tuple[np.ndarray, np.ndarray]:
    """Vector of (h1, h2) for a partition's batch keys."""
    n = len(values)
    h1 = np.empty(n, dtype=np.uint64)
    h2 = np.empty(n, dtype=np.uint64)
    for i, v in enumerate(values):
        a, b = key_hash_pair(v)
        h1[i] = a
        h2[i] = b
    return h1, h2


def might_contain(
    bloom: tuple[np.ndarray, int, int], h1: np.ndarray, h2: np.ndarray
) -> np.ndarray:
    """Per hashed key: whether the decoded filter ``bloom`` (bits, m, k)
    MIGHT hold it — the one membership rule, shared by the write-side
    key probe and the read-side point lookup. uint64 arithmetic wraps
    mod 2^64, matching the build side's explicit mask, so probe
    positions agree bit-for-bit."""
    bits, m, k = bloom
    ks = np.arange(k, dtype=np.uint64)
    pos = (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m)
    byte_i = (pos >> np.uint64(3)).astype(np.int64)
    bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    return ((bits[byte_i] & bit) != 0).all(axis=1)
