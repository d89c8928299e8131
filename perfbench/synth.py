"""Seeded generator for the synthetic convert input.

It covers the Parquet types the sf0.1 fixtures lack: decimal, TIMESTAMP_NTZ,
float32 with NaN and +/-Inf, an all-null column, a nested struct and array,
and binary. The table spans several files with several row groups each, so
the scan can run in parallel. The same seed writes byte-identical files.
"""
import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = 120_000
FILES = 4
ROW_GROUPS_PER_FILE = 3


def _with_nulls(rng, values, share, type_):
    mask = rng.random(len(values)) < share
    return pa.array(values, type=type_, mask=mask), mask


def _file_table(rng, first_id, n):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    i16, _ = _with_nulls(rng, rng.integers(-30000, 30000, n, dtype=np.int16), 0.05, pa.int16())
    i32_vals = rng.integers(-(2**31), 2**31 - 1, n, dtype=np.int64).astype(np.int32)
    i32, i32_null = _with_nulls(rng, i32_vals, 0.05, pa.int32())
    f32_vals = rng.standard_normal(n).astype(np.float32)
    special = rng.random(n)
    f32_vals[special < 0.01] = np.nan
    f32_vals[(special >= 0.01) & (special < 0.02)] = np.inf
    f32_vals[(special >= 0.02) & (special < 0.03)] = -np.inf
    f32, _ = _with_nulls(rng, f32_vals, 0.02, pa.float32())
    f64 = pa.array(rng.normal(0.0, 1000.0, n))
    cents = rng.integers(-10**9, 10**9, n)
    dec = pa.array([decimal.Decimal(int(c)).scaleb(-2) for c in cents], type=pa.decimal128(12, 2))
    ts = pa.array(1_600_000_000_000_000 + rng.integers(0, 10**14, n), type=pa.timestamp("us"))
    words = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"])
    s = pa.array(words[rng.integers(0, len(words), n)])
    flag = pa.array(rng.random(n) < 0.5)
    raw = rng.integers(0, 256, (n, 8), dtype=np.uint8)
    binary = pa.array([r.tobytes() for r in raw], type=pa.binary())
    nested = pa.StructArray.from_arrays(
        [pa.array(rng.integers(0, 1000, n, dtype=np.int32)),
         pa.array(words[rng.integers(0, 8, n)])],
        names=["a", "b"])
    lengths = rng.integers(0, 5, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    arr = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(-100, 100, int(offsets[-1]), dtype=np.int32)))
    table = pa.table({
        "id": pa.array(ids), "i16": i16, "i32": i32, "f32": f32, "f64": f64, "dec": dec,
        "ts_ntz": ts, "all_null": pa.nulls(n, pa.int32()), "s": s, "flag": flag,
        "bin": binary, "st": nested, "arr": arr,
    })
    sum_i32 = int(i32_vals[~i32_null].astype(np.int64).sum())
    return table, int(ids.sum()), sum_i32


def generate(out_dir, seed):
    """Writes the table under `out_dir`; returns the checks its output must meet."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    per_file = ROWS // FILES
    sum_id = sum_i32 = 0
    for f in range(FILES):
        table, sid, si32 = _file_table(rng, f * per_file, per_file)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:02d}.parquet"),
                       row_group_size=-(-per_file // ROW_GROUPS_PER_FILE))
        sum_id += sid
        sum_i32 += si32
    return {"rows": per_file * FILES, "sum_id": sum_id, "sum_i32": sum_i32}
