#!/usr/bin/env python3
"""Replica generator: builds a workload's input tables from a committed base
fixture (perfbench/fixtures/<base>) and a seed.

- `copies` copies of every table except the nation/region dimensions. Copy 0
  keeps the fixture's ids; copy i > 0 adds i * stride to every id column,
  with the stride drawn from the seed, so foreign keys stay consistent and
  each per-key series grows with the copy count.
- Rows are written in a seed-drawn order.
- Output goes under <build>/data only; the same (base, copies, seed) gives
  the same tables. Each table's row count and a content hash (SHA-256 of its
  Arrow IPC stream) are written to manifest.json and printed.

    python3 perfbench/gen.py BASE COPIES SEED
"""
import hashlib
import json
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ID_COLUMNS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": None,  # dimensions: one copy
    "region": None,
}


def content_hash(t: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def replicate(t: pa.Table, ids, copies: int, stride: int) -> pa.Table:
    if ids is None or copies == 1:
        return t
    parts = []
    for i in range(copies):
        c = t
        for name in ids:
            j = c.schema.get_field_index(name)
            col = c.column(j)
            shifted = pa.array(col.to_numpy() + np.int64(i * stride), type=col.type)
            c = c.set_column(j, name, shifted)
        parts.append(c)
    return pa.concat_tables(parts)


def generate(base: str, copies: int, seed: int, out_root: Path) -> Path:
    out = out_root / f"{base}-x{copies}-s{seed}"
    if (out / "manifest.json").is_file():
        return out
    # Keep one generated input per base and copy count.
    for old in out_root.glob(f"{base}-x{copies}-s*"):
        shutil.rmtree(old)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    stride = int(rng.integers(1, 100)) * 1_000_000
    manifest = {"base": base, "copies": copies, "seed": seed, "id_stride": stride, "tables": {}}
    for name, ids in ID_COLUMNS.items():
        t = pq.read_table(HERE / "fixtures" / base / f"{name}.parquet")
        t = replicate(t, ids, copies, stride)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, tmp / f"{name}.parquet")
        manifest["tables"][name] = {"rows": t.num_rows, "sha256": content_hash(t)}
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    base, copies, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    sys.path.insert(0, str(HERE))
    from build import build_dir
    d = generate(base, copies, seed, build_dir() / "data")
    print(d)
    print((d / "manifest.json").read_text())
