#!/usr/bin/env python3
"""Scale-up rehearsal data: tile /root/testdata/sf0.1 K times (default
10 -> an sf1 equivalent) into an output dir, preserving every dtype.

Keys are shifted per copy so primary keys stay unique and FK joins keep
their fan-out (l_orderkey shifts with o_orderkey, o_custkey with
c_custkey, ...). Dimension tables (region, nation) are NOT tiled.
Documents get a per-copy token perturbation (a deterministic ~1/7 of
tokens get a copy suffix) so near-dup/dedup operators see mostly-novel
text instead of a corpus that is 90% exact duplicates; embeddings get a
small deterministic per-copy rotation of a few dimensions for the same
reason. This is NOT oracle data - it exists to measure per-query
scaling exponents (BENCH at ~10x), not correctness.

Usage: python3 tools/gen_scale.py [K] [outdir] [mode]

mode (default "tiled"):
  tiled  — the round-8 scheme: the perturbed token POSITIONS are the
           same in every copy (only the suffix differs), so copy i and
           copy j of one base document share ~6/7 of tokens — i.e.
           every base dup family is INFLATED ~K× across copies and
           candidate pairs grow ~K² per family. Good for stress, bad
           for attributing growth to the operator.
  pinned — per-copy dup-family size PINNED: the perturbed position set
           depends on the copy index ((...+ i*101) % 63 < 9 ≈ 1/7
           rate, all K offsets distinct), so cross-copy versions of a
           document share only ~3/7 of bigrams (Jaccard ≈ 0.27, below
           every candidate threshold) while WITHIN-copy families keep
           exactly the round-8 structure. Measured growth is then the
           operator's, not a dup-family explosion.
"""
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

SRC = "/root/testdata/sf0.1"
K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfscale"
MODE = sys.argv[3] if len(sys.argv) > 3 else "tiled"
assert MODE in ("tiled", "pinned"), MODE

import os
os.makedirs(OUT, exist_ok=True)

def read(t):
    return pq.read_table(f"{SRC}/{t}.parquet")

def shift(col, delta):
    return pc.cast(pc.add(col, delta), col.type)

def tile(name, keycols, write_name=None):
    """keycols: {colname: per-copy shift}"""
    tb = read(name)
    parts = []
    for i in range(K):
        cols = {}
        for c in tb.column_names:
            col = tb.column(c)
            if c in keycols and i > 0:
                col = shift(col, i * keycols[c])
            cols[c] = col
        parts.append(pa.table(cols, schema=tb.schema))
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{OUT}/{write_name or name}.parquet")
    print(f"{name}: {tb.num_rows} -> {out.num_rows}")

# key strides: next power-of-10 above max key at sf0.1 keeps ids readable
O_STRIDE = 1_000_000      # o_orderkey max 600000
C_STRIDE = 100_000        # c_custkey max 15000
P_STRIDE = 100_000        # p_partkey max 20000
S_STRIDE = 10_000         # s_suppkey max 1000
E_STRIDE = 1_000_000      # event_id max 100000
U_STRIDE = 100_000        # user_id
D_STRIDE = 100_000        # doc_id max 5000
V_STRIDE = 100_000        # vec_id max 2000

for t in ("region", "nation"):
    tb = read(t)
    pq.write_table(tb, f"{OUT}/{t}.parquet")
    print(f"{t}: {tb.num_rows} (dimension, not tiled)")

tile("customer", {"c_custkey": C_STRIDE})
tile("supplier", {"s_suppkey": S_STRIDE})
tile("part", {"p_partkey": P_STRIDE})
tile("orders", {"o_orderkey": O_STRIDE, "o_custkey": C_STRIDE})
tile("lineitem", {"l_orderkey": O_STRIDE, "l_partkey": P_STRIDE,
                  "l_suppkey": S_STRIDE})
tile("events", {"event_id": E_STRIDE, "user_id": U_STRIDE})

# documents: tile with deterministic per-copy token perturbation
tb = read("documents")
texts = tb.column("text").to_pylist()

# --- base-corpus fingerprint gate (round 11): cross-round 10x
# comparisons are only valid when the BASE corpus is unchanged — the
# driver regenerates testdata between rounds, and round-10 adjudication
# found the pinned-10x bigram vocab DOUBLED r9->r10 purely from base
# drift. Assert against the committed fingerprint; on mismatch, proceed
# (the rehearsal is still useful within-round) but stamp the outdir so
# `graft.Probe sweep`/SCALING records carry the invalidation.
import hashlib, json
_h = hashlib.sha256()
for _t in texts:
    _h.update(_t.encode()); _h.update(b"\0")
_fp = {"rows": tb.num_rows, "chars": sum(len(_t) for _t in texts),
       "sha256_16": _h.hexdigest()[:16]}
_fp_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "scale_fingerprint.json")
try:
    with open(_fp_path) as f:
        _want = json.load(f)
    _match = all(_fp[k] == _want[k] for k in ("rows", "chars", "sha256_16"))
except FileNotFoundError:
    _want, _match = None, False
with open(os.path.join(OUT, "BASE_FINGERPRINT.json"), "w") as f:
    json.dump({"base": _fp, "committed": _want, "match": _match}, f, indent=1)
if not _match:
    print("*" * 72)
    print("* BASE CORPUS DRIFTED from the committed fingerprint:")
    print(f"*   committed: {_want}")
    print(f"*   actual:    {_fp}")
    print("* 10x numbers from this build are NOT comparable to prior")
    print("* rounds' Probe sweep/SCALING rows. Outdir stamped with")
    print("* BASE_FINGERPRINT.json (match: false).")
    print("*" * 72)
else:
    print(f"base corpus fingerprint OK: {_fp}")
parts = []
for i in range(K):
    if i == 0:
        pt = texts
    else:
        pt = []
        for di, t in enumerate(texts):
            toks = t.split(" ")
            # deterministic ~1/7 of tokens become copy-local; in
            # "pinned" mode the position set shifts per copy (see
            # module docstring) so cross-copy pairs are not near-dups
            if MODE == "pinned":
                pt.append(" ".join(
                    f"{w}c{i}"
                    if (len(w) * 31 + j * 7 + di + i * 101) % 63 < 9 else w
                    for j, w in enumerate(toks)))
            else:
                pt.append(" ".join(
                    f"{w}c{i}" if (len(w) * 31 + j * 7 + di) % 7 == 0 else w
                    for j, w in enumerate(toks)))
    cols = {
        "doc_id": shift(tb.column("doc_id"), i * D_STRIDE) if i else tb.column("doc_id"),
        "text": pa.array(pt, type=pa.string()),
        "lang": tb.column("lang"),
        "source": tb.column("source"),
        "n_chars": pa.array([len(x) for x in pt], type=pa.int64()),
    }
    parts.append(pa.table(cols, schema=tb.schema))
out = pa.concat_tables(parts)
pq.write_table(out, f"{OUT}/documents.parquet")
print(f"documents: {tb.num_rows} -> {out.num_rows}")

# embeddings: tile with a small deterministic per-copy perturbation
tb = read("embeddings")
emb = np.array(tb.column("embedding").to_pylist(), dtype=np.float32)
dim = emb.shape[1]
parts = []
for i in range(K):
    e = emb.copy()
    if i > 0:
        rs = np.random.RandomState(1000 + i)
        e += rs.normal(0, 0.05, size=e.shape).astype(np.float32)
    cols = {
        "vec_id": shift(tb.column("vec_id"), i * V_STRIDE) if i else tb.column("vec_id"),
        "embedding": pa.array([list(map(float, row)) for row in e],
                              type=pa.list_(pa.float32())),
        "label": tb.column("label"),
    }
    parts.append(pa.table(cols, schema=tb.schema))
out = pa.concat_tables(parts)
pq.write_table(out, f"{OUT}/embeddings.parquet")
print(f"embeddings: {tb.num_rows} -> {out.num_rows}")
print(f"done -> {OUT}")
