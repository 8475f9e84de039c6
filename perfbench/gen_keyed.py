"""Seeded generator for the keyed_kernel workload, with its goldens.

Writes, under `out_dir`:
  writes.parquet     n_rows (k, v, o) int64 rows; k is drawn Zipf(1.2) over
                     n_keys ranks (rank -> key through a seeded permutation),
                     v uniform in [0, 1000), o the write order 0..n_rows-1
  batch{e}.parquet   3 epoch batches of batch_rows distinct uniform keys (k, v)
  deletes.parquet    keys given to unset_many: half present, half absent
  golden.npz         per-key sums, final state, lookup batches, counts

Keys are even (2 x id), so every odd key is guaranteed absent. The same
(seed, sizes) always gives byte-identical files; `content_hash` fingerprints
them. run.py calls `generate` with the sizes of its SIZES table.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# golden.npz is derived from these and carries zip timestamps, so it is not hashed
FILES = ("writes.parquet", "batch0.parquet", "batch1.parquet", "batch2.parquet",
         "deletes.parquet")
ZIPF_S = 1.2
N_BATCHES = 3
LOOKUP_KEYS = 50      # keys per get_many call
N_DELETES = 20_000
PRANGE_N = 10_000_000
PRANGE_MOD = 1_000


def sum_digest(keys: np.ndarray, sums: np.ndarray) -> str:
    """Order-insensitive digest of a (key, sum) map: md5 over key-sorted int64s."""
    order = np.argsort(keys, kind="stable")
    h = hashlib.md5(np.ascontiguousarray(keys[order], dtype=np.int64).tobytes())
    h.update(np.ascontiguousarray(sums[order], dtype=np.int64).tobytes())
    return h.hexdigest()


def generate(out_dir: str, seed: int, n_rows: int, n_keys: int, batch_rows: int,
             lookups: int) -> str:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # ---- bulk writes: Zipf-skewed keys, so rank 0 carries ~18% of writes
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n_rows)), n_keys - 1)
    perm = rng.permutation(n_keys)
    ids = perm[ranks]
    vals = rng.integers(0, 1000, n_rows)
    pq.write_table(pa.table({"k": 2 * ids, "v": vals, "o": np.arange(n_rows, dtype=np.int64)}),
                   os.path.join(out_dir, "writes.parquet"), row_group_size=1 << 20)

    present = np.bincount(ids, minlength=n_keys) > 0
    sums = np.bincount(ids, weights=vals, minlength=n_keys).astype(np.int64)
    # last write per key = value at the highest order (the last occurrence)
    state = np.full(n_keys, -1, dtype=np.int64)
    rev_ids, rev_first = np.unique(ids[::-1], return_index=True)
    state[rev_ids] = vals[::-1][rev_first]
    after_ingest = state.copy()
    sample = rng.choice(np.flatnonzero(present), LOOKUP_KEYS, replace=False)

    # ---- epochs: distinct keys per batch, so "batch wins" is unambiguous
    batch_keys, batch_vals = [], []
    for e in range(N_BATCHES):
        bk = rng.choice(n_keys, batch_rows, replace=False)
        bv = rng.integers(0, 1000, batch_rows)
        pq.write_table(pa.table({"k": 2 * bk, "v": bv}),
                       os.path.join(out_dir, f"batch{e}.parquet"))
        state[bk] = bv
        batch_keys.append(bk)
        batch_vals.append(bv)

    # ---- lookups: 3/5 hot (Zipf rank), 1/5 uniform ids, 1/5 odd (absent)
    n_hot, n_uni = LOOKUP_KEYS * 3 // 5, LOOKUP_KEYS // 5
    n_odd = LOOKUP_KEYS - n_hot - n_uni
    hot = perm[np.minimum(np.searchsorted(cdf, rng.random((lookups, n_hot))), n_keys - 1)]
    uni = rng.integers(0, n_keys, (lookups, n_uni))
    odd = 2 * rng.integers(0, n_keys, (lookups, n_odd)) + 1
    lookup_keys = np.concatenate([2 * hot, 2 * uni, odd], axis=1)

    # ---- deletes: half live keys, half odd keys
    live = np.flatnonzero(state >= 0)
    n_del = min(N_DELETES // 2, len(live) // 2)
    dl = rng.choice(live, n_del, replace=False)
    deletes = np.concatenate([2 * dl, 2 * rng.integers(0, n_keys, n_del) + 1])
    pq.write_table(pa.table({"k": deletes}), os.path.join(out_dir, "deletes.parquet"))

    # ---- prange: sum of id grouped by id % PRANGE_MOD over [0, PRANGE_N)
    r = np.arange(PRANGE_MOD, dtype=np.int64)
    cnt = (PRANGE_N - 1 - r) // PRANGE_MOD + 1
    prange_sums = r * cnt + PRANGE_MOD * cnt * (cnt - 1) // 2

    np.savez(
        os.path.join(out_dir, "golden.npz"),
        sum_digest=np.array(sum_digest(2 * np.flatnonzero(present), sums[present])),
        n_ingest_keys=np.int64(present.sum()),
        sample_keys=2 * sample,
        sample_vals=after_ingest[sample],
        batch_sample_keys=np.stack([2 * b[:LOOKUP_KEYS] for b in batch_keys]),
        batch_sample_vals=np.stack([v[:LOOKUP_KEYS] for v in batch_vals]),
        state=state,
        lookup_keys=lookup_keys,
        n_keys_after_delete=np.int64((state >= 0).sum() - len(dl)),
        # batch0 rows whose key the bulk ingest wrote (filter_members)
        batch0_members=np.int64(present[batch_keys[0]].sum()),
        prange_sums=prange_sums,
        n_rows=np.int64(n_rows),
    )
    return content_hash(out_dir)


def content_hash(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in FILES:
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()[:16]

