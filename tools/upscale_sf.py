#!/usr/bin/env python
"""Regenerate a 10x perf-validation corpus from /root/testdata/sf0.1.

The driver measures the round at a larger, driver-generated scale factor
(BENCH_r05.json: sf=1.0) whose data this sandbox no longer holds; this
tool rebuilds an sf1.0-SHAPED corpus for perf validation only (row
counts, cardinalities, join integrity, near-dup density — NOT byte
equality with the driver's generator; correctness gates stay at the
driver's own sf0.01 tables).

Construction, per table, C=10 copies with disjoint key ranges:
- region/nation: fixed dimensions, copied as-is (TPC-H semantics).
- keyed tables: copy k offsets every key column by k * ceil_pow10(max),
  preserving referential integrity (lineitem->orders/part/supplier,
  orders->customer, customer->nation) because both sides shift by the
  same offset.
- documents.text: copy k>0 applies a per-copy letter substitution
  (alphabet rotation) — a bijection on character k-shingles and word
  tokens, so every copy has EXACTLY the sf0.1 corpus's intra-copy
  Jaccard/minhash/simhash structure while sharing ~no shingles or
  tokens across copies (no artificial 10-cliques of near-dups; pair
  count scales linearly like a real 10x corpus).
- embeddings.embedding: copy k applies a per-copy fixed permutation of
  the vector dimensions — preserves all intra-copy angles exactly
  (cos(perm(x), perm(y)) == cos(x, y)) while cross-copy cosines are
  ~random, so near-dup/ANN candidate structure scales linearly.
- events: ids/user_ids offset; ts/value/props repeat (parse cost is
  content-independent).

Output: one <table>.parquet FILE per table with one row group per copy
(mirrors the driver's multi-row-group sf1.0 layout, so scan
parallelism matches: row-group count bounds split count on local FS).

Usage: python tools/upscale_sf.py [--out /tmp/sf1.0] [--copies 10]
"""
from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

FIXED = {"region", "nation"}
# every key column belongs to a key DOMAIN whose offset is derived from
# the REFERENCED (primary-key) table, so FK and PK sides of a join
# always shift by the same amount — computing ceil_pow10 per table
# would silently break referential integrity whenever a table's own FK
# max and the PK max straddle a power of 10
KEY_DOMAINS = {
    "c_custkey": ("customer", "c_custkey"),
    "o_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "l_partkey": ("part", "p_partkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_DOMAIN_OFFSETS: dict[tuple[str, str], int] = {}


def domain_offset(col: str) -> int:
    dom = KEY_DOMAINS[col]
    if dom not in _DOMAIN_OFFSETS:
        table, pk = dom
        _DOMAIN_OFFSETS[dom] = ceil_pow10(
            pc.max(pq.read_table(f"{SRC}/{table}.parquet", columns=[pk])[pk])
            .as_py()
        )
    return _DOMAIN_OFFSETS[dom]


def ceil_pow10(n: int) -> int:
    p = 1
    while p <= n:
        p *= 10
    return p


def rotate_text(col: pa.ChunkedArray, k: int) -> pa.Array:
    """Per-copy lowercase-letter rotation (bijective on shingles).

    Only 26 distinct rotations exist: k=26 would be the identity again
    and silently make copy k a near-dup clique with copy 0."""
    if not 0 <= k < 26:
        raise ValueError(f"rotation k={k} outside 0..25")
    if k == 0:
        return col.combine_chunks()
    src = "abcdefghijklmnopqrstuvwxyz"
    dst = src[k:] + src[:k]
    # arrow has no translate(); do it in python on the ~5k strings
    table = str.maketrans(src, dst)
    return pa.array(
        [None if v is None else v.translate(table) for v in col.to_pylist()],
        type=pa.string(),
    )


def permute_vecs(col: pa.ChunkedArray, k: int, dim: int) -> pa.Array:
    if k == 0:
        return col.combine_chunks()
    import numpy as np

    rng = np.random.RandomState(1000 + k)
    perm = rng.permutation(dim)
    flat = col.combine_chunks()
    values = flat.flatten()
    # a null row or a row of another width would shift every later row
    # across the reshape below and silently scramble the vectors
    if flat.null_count or values.null_count:
        raise ValueError("embedding column has null vectors or elements")
    widths = pc.unique(pc.list_value_length(flat)).to_pylist()
    if widths not in ([], [dim]):
        raise ValueError(f"embedding rows are not all {dim} wide: {widths}")
    vals = values.to_numpy(zero_copy_only=False).reshape(-1, dim)
    out = vals[:, perm]
    return pa.FixedSizeListArray.from_arrays(
        pa.array(out.reshape(-1), type=pa.float32()), dim
    ).cast(flat.type) if pa.types.is_fixed_size_list(flat.type) else pa.ListArray.from_arrays(
        pa.array(range(0, (len(vals) + 1) * dim, dim), type=pa.int32()),
        pa.array(out.reshape(-1), type=pa.float32()),
    ).cast(flat.type)


def upscale_table(name: str, out_dir: str, copies: int) -> None:
    src = pq.read_table(f"{SRC}/{name}.parquet")
    # strip pandas metadata; keep the bare schema the driver tables expose
    src = src.replace_schema_metadata(None)
    out_path = os.path.join(out_dir, f"{name}.parquet")
    if name in FIXED:
        pq.write_table(src, out_path)
        print(f"{name}: fixed dim, {src.num_rows} rows")
        return
    keys = KEY_COLS[name]
    offsets = {c: domain_offset(c) for c in keys}
    writer = pq.ParquetWriter(out_path, src.schema)
    for k in range(copies):
        cols = {}
        for field in src.schema:
            c = field.name
            if c in keys:
                cols[c] = pc.add(src[c], k * offsets[c]).cast(field.type)
            elif name == "documents" and c == "text":
                cols[c] = rotate_text(src[c], k)
            elif name == "embeddings" and c == "embedding":
                dim = len(src[c][0])
                cols[c] = permute_vecs(src[c], k, dim)
            else:
                cols[c] = src[c]
        writer.write_table(pa.table(cols, schema=src.schema))
    writer.close()
    f = pq.ParquetFile(out_path)
    print(f"{name}: {f.metadata.num_rows} rows, {f.metadata.num_row_groups} row groups")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1.0")
    ap.add_argument("--copies", type=int, default=10)
    a = ap.parse_args()
    if a.copies > 26:
        # one letter rotation per copy (rotate_text); a 27th copy would
        # repeat copy 0's text
        ap.error("--copies must be <= 26")
    os.makedirs(a.out, exist_ok=True)
    for name in sorted(FIXED | set(KEY_COLS)):
        upscale_table(name, a.out, a.copies)
    open(os.path.join(a.out, "_DONE"), "w").close()
    print("wrote", a.out)


if __name__ == "__main__":
    main()
