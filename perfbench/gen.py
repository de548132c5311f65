#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Transforms the base tables in `perfbench/base/` (the sf0.001 star
schema + events + documents + embeddings) with the per-copy transform
of `graft.ScaleUp`, driven by the seed:

  * fact keys shift by a seeded multiple of the key span, consistently
    across the tables that join on them;
  * row order of every fact table is a seeded shuffle;
  * document text goes through a seeded [a-z] permutation;
  * embedding vectors go through a seeded signed component permutation
    (norms and cosines preserved exactly);
  * every timestamp shifts by the same seeded number of hours.

One copy, not ScaleUp's N: at this size a pass is bound by per-job
overhead already, and a run must fit its time budget. Dimension tables
(region, nation, customer, supplier, part) are copied verbatim. The
same seed writes byte-identical files; the manifest `_manifest.json`
records the seed and each table's rows and bytes.

Usage: python3 perfbench/gen.py <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
DIMS = ["region", "nation", "customer", "supplier", "part"]
FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]
ALPHABET = "abcdefghijklmnopqrstuvwxyz"

def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _shift_ts(col, hours):
    if hours == 0:
        return col
    unit = col.type.unit
    per_hour = {"s": 3600, "ms": 3600_000, "us": 3600_000_000,
                "ns": 3600_000_000_000}[unit]
    raw = pc.add(col.cast(pa.int64()), hours * per_hour)
    return raw.cast(col.type)


def _shift_key(col, by):
    return pc.add(col, pa.scalar(by, col.type))


def _alphabet_perm(rng):
    return "".join(rng.permutation(list(ALPHABET)))


def _scramble(arr, rng):
    """Signed component permutation of a list<float> column."""
    dim = len(arr[0]) if len(arr) else 0
    mat = np.asarray(arr.flatten(), dtype=np.float32).reshape(-1, dim)
    perm = rng.permutation(dim)
    signs = np.where(rng.integers(0, 2, dim) == 0, -1.0, 1.0).astype(np.float32)
    out = mat[:, perm] * signs
    return pa.ListArray.from_arrays(arr.offsets, pa.array(out.reshape(-1),
                                                         pa.float32()))


def _transform(name, t, seed, spans, hours):
    """The seeded image of fact table `name`."""
    rng = _rng(seed, FACTS.index(name), 0)
    cols = {}
    for f in t.schema:
        c = t.column(f.name).combine_chunks()
        if pa.types.is_timestamp(f.type):
            c = _shift_ts(c, hours)
        cols[f.name] = c
    off = lambda key: spans["base"] * spans[key]
    if name == "orders":
        cols["o_orderkey"] = _shift_key(cols["o_orderkey"], off("order"))
    elif name == "lineitem":
        cols["l_orderkey"] = _shift_key(cols["l_orderkey"], off("order"))
    elif name == "events":
        cols["event_id"] = _shift_key(cols["event_id"], off("event"))
        cols["user_id"] = _shift_key(cols["user_id"], off("user"))
    elif name == "documents":
        table = str.maketrans(ALPHABET, _alphabet_perm(rng))
        cols["doc_id"] = _shift_key(cols["doc_id"], off("doc"))
        cols["text"] = pa.array([None if s is None else s.translate(table)
                                 for s in cols["text"].to_pylist()],
                                pa.string())
    elif name == "embeddings":
        cols["vec_id"] = _shift_key(cols["vec_id"], off("vec"))
        cols["embedding"] = _scramble(cols["embedding"], rng).cast(
            t.schema.field("embedding").type)
    return pa.table(cols, schema=t.schema)


def _span(t, key):
    return int(pc.max(t.column(key)).as_py()) + 1


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    base = {n: pq.read_table(os.path.join(BASE, f"{n}.parquet"))
            for n in DIMS + FACTS}
    rng = _rng(seed)
    spans = {"base": int(rng.integers(0, 64)),
             "order": _span(base["orders"], "o_orderkey"),
             "event": _span(base["events"], "event_id"),
             "user": _span(base["events"], "user_id"),
             "doc": _span(base["documents"], "doc_id"),
             "vec": _span(base["embeddings"], "vec_id")}
    hours = int(rng.integers(0, 48))
    manifest = {"seed": seed, "ts_shift_hours": hours,
                "key_base": spans["base"], "tables": {}}
    for name in DIMS + FACTS:
        t = base[name]
        if name in FACTS:
            t = _transform(name, t, seed, spans, hours)
            order = _rng(seed, 100 + FACTS.index(name)).permutation(t.num_rows)
            t = t.take(pa.array(order))
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t.replace_schema_metadata(None), path,
                       compression="snappy")
        manifest["tables"][name] = {"rows": t.num_rows,
                                    "bytes": os.path.getsize(path)}
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2])))
