#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Builds the input directory from the small fixture in `perfbench/seeddata/`
(sf0.001 size) by replicate-and-perturb, keyed on the seed, to sf0.01 size:

- relational tables (customer, supplier, part, orders, lineitem, events):
  COPIES disjoint copies with every key shifted per copy, so foreign keys
  stay consistent inside a copy and key cardinalities grow with the data;
  the seed also moves the key ranges;
- documents: COPIES copies; copy 0 swaps ~2% of its tokens, copies 1-2 swap
  ~4% (near-duplicates of copy 0), later copies swap half (distinct
  documents over the same vocabulary);
- embeddings: COPIES copies with per-element noise (+-0.001 on copy 0,
  +-0.01 on the others);
- documents and embeddings keep the fixture's id layout (copy c adds c
  times the fixture's id span), as the sf0.01 fixture lays them out: several ops address
  them by absolute id (the first 48, 128, 256 or 500 documents), and a
  seed-moved range would leave those ops with no rows. The seed varies
  their content only;
- region and nation are copied as they are.

Every perturbation is a hash of (seed, table, copy, row, position), so one
seed always gives the same bytes. The parquet column types of the fixture
are kept exactly.

Usage: gen.py <out_dir> <seed>
"""
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED_DIR = Path(__file__).resolve().parent / "seeddata"
# every table grows by the same factor, as StressGen scales the fixtures
COPIES = 10


def mix(*parts):
    """splitmix64 over the broadcast of `parts` (ints or uint64 arrays)."""
    h = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        for p in parts:
            h = (h ^ np.asarray(p).astype(np.uint64)) * np.uint64(0xBF58476D1CE4E5B9)
            h = h ^ (h >> np.uint64(31))
            h = h * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(29))
    return h


def unit(*parts):
    """Uniform floats in [0, 1) from a hash."""
    return (mix(*parts) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def load(name):
    return pq.read_table(SEED_DIR / f"{name}.parquet")


def span(table, col):
    return int(pa.compute.max(table[col]).as_py()) + 1


def replicate(table, copies, first, shifts, edit=None):
    """`copies` copies of `table`; copy c adds (first + c) * offset to each
    column named in `shifts` (column -> offset)."""
    out = []
    for c in range(copies):
        t = table
        for col, off in shifts.items():
            typ = t.schema.field(col).type
            t = t.set_column(t.schema.get_field_index(col), col,
                             pa.compute.add(t[col], pa.scalar((first + c) * off, typ)))
        if edit is not None:
            t = edit(t, c)
        out.append(t)
    return pa.concat_tables(out)


def set_col(t, col, values):
    i = t.schema.get_field_index(col)
    return t.set_column(i, t.schema.field(i), pa.array(values, type=t.schema.field(i).type))


def generate(out_dir, seed):
    out_dir.mkdir(parents=True, exist_ok=True)
    s = np.uint64(seed % 2**64)
    tables = {}
    for name in ("region", "nation"):
        tables[name] = load(name)

    cust, supp, part = load("customer"), load("supplier"), load("part")
    orders, items, events = load("orders"), load("lineitem"), load("events")
    sc, ss, sp = span(cust, "c_custkey"), span(supp, "s_suppkey"), span(part, "p_partkey")
    so, se, su = span(orders, "o_orderkey"), span(events, "event_id"), span(events, "user_id")
    # the seed also moves the relational key ranges, so two seeds never
    # share those ids
    first = (seed % 13) * COPIES

    def renamed(prefix, key):
        return lambda t, c: set_col(t, t.schema.names[1], [f"{prefix}#{k:09d}" for k in t[key].to_pylist()])

    tables["customer"] = replicate(cust, COPIES, first, {"c_custkey": sc}, renamed("Customer", "c_custkey"))
    tables["supplier"] = replicate(supp, COPIES, first, {"s_suppkey": ss}, renamed("Supplier", "s_suppkey"))
    tables["part"] = replicate(part, COPIES, first, {"p_partkey": sp})
    tables["orders"] = replicate(orders, COPIES, first, {"o_orderkey": so, "o_custkey": sc})
    tables["lineitem"] = replicate(items, COPIES, first, {"l_orderkey": so, "l_partkey": sp, "l_suppkey": ss})

    def jitter_events(t, c):
        ids = t["event_id"].to_numpy()
        # +-60 s on the timestamp and +-1% on the value, both seed-keyed
        ts = t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        dt = ((unit(s, 1, c, ids) * 120.0 - 60.0) * 1e6).astype(np.int64)
        t = set_col(t, "ts", (ts + dt).astype("datetime64[us]"))
        v = t["value"].to_numpy()
        return set_col(t, "value", np.round(v * (0.99 + 0.02 * unit(s, 2, c, ids)), 2))

    tables["events"] = replicate(events, COPIES, first, {"event_id": se, "user_id": su}, jitter_events)

    d0 = load("documents")
    vocab = sorted({w for t in d0["text"].to_pylist() for w in t.split(" ")})
    sd = span(d0, "doc_id")
    texts, ids, rest = [], [], {c: [] for c in ("lang", "source")}
    for c in range(COPIES):
        pct = 0.02 if c == 0 else 0.04 if c <= 2 else 0.5
        for doc_id, text, lang, source in zip(d0["doc_id"].to_pylist(), d0["text"].to_pylist(),
                                               d0["lang"].to_pylist(), d0["source"].to_pylist()):
            toks = text.split(" ")
            pos = np.arange(len(toks))
            swap = unit(s, 3, c, doc_id, pos) < pct
            pick = mix(s, 4, c, doc_id, pos) % np.uint64(len(vocab))
            texts.append(" ".join(vocab[int(p)] if w else t for t, w, p in zip(toks, swap, pick)))
            ids.append(doc_id + c * sd)
            rest["lang"].append(lang)
            rest["source"].append(source)
    tables["documents"] = pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
        "lang": pa.array(rest["lang"], pa.string()), "source": pa.array(rest["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}, schema=d0.schema)

    e0 = load("embeddings")
    sv = span(e0, "vec_id")
    flat = e0["embedding"].combine_chunks()
    offsets = flat.offsets.to_numpy()
    values = flat.values.to_numpy().astype(np.float32)
    vid = np.repeat(e0["vec_id"].to_numpy(), np.diff(offsets))
    pos = np.arange(len(values)) - np.repeat(offsets[:-1], np.diff(offsets))
    parts = []
    for c in range(COPIES):
        amp = 0.001 if c == 0 else 0.01
        noisy = (values + amp * (2.0 * unit(s, 5, c, vid, pos) - 1.0)).astype(np.float32)
        arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(noisy, pa.float32()))
        parts.append(pa.table({"vec_id": pa.array(e0["vec_id"].to_numpy() + c * sv, pa.int64()),
                               "embedding": arr.cast(e0.schema.field("embedding").type),
                               "label": e0["label"]}, schema=e0.schema))
    tables["embeddings"] = pa.concat_tables(parts)

    stats = {}
    for name, t in tables.items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(t.replace_schema_metadata(None), path)
        stats[name] = {"rows": t.num_rows, "bytes": path.stat().st_size}
    return stats


if __name__ == "__main__":
    print(json.dumps(generate(Path(sys.argv[1]), int(sys.argv[2]))))
