"""Seeded input generation for the benchmark workloads.

Every workload starts from the read-only sf0.1 tables in the base
directory and writes its own copy under an output directory. The seed
decides everything that varies between runs, and nothing else does:

- the key offset added to every TPC-H and event key (all tables of one
  replica share it, so foreign keys stay consistent). Document and
  embedding ids keep their values: the program gives small ids a meaning
  (vec_id < 10 are the ANN query vectors, the first vec_ids seed the
  centroids, doc_id < 10 is the contamination eval set);
- for replicated tables, replica r adds r * KEY_STRIDE on top, so key
  spaces are disjoint; replicated events also move later in time by one
  base time span per replica, so a replayed stream stays in time order;
- a text perturbation: about one document in ten gets one extra token;
- a vector perturbation: about one embedding in ten gets a small jitter
  on one dimension;
- the file split points of every table written as several files.

The same seed gives byte-identical files; the program reads only them.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
ALL = TPCH + ["events", "documents", "embeddings"]

# workload -> {table: (replicas, files)}; tables not listed are copied
# as one file, because the SQL front-end registers every table as a view
SPECS = {
    "corpus": {t: (1, 1) for t in ALL} | {"orders": (1, 2), "lineitem": (1, 4)},
    "stream": {"events": (1, 4), "documents": (1, 3)},
    "control": {"lineitem": (1, 1)},
}


def split_points(rng, n_rows, n_files):
    """Row offsets cutting n_rows into n_files pieces: equal pieces with
    each inner cut moved by up to a fifth of a piece."""
    if n_files <= 1:
        return [0, n_rows]
    piece = n_rows / n_files
    jitter = rng.uniform(-0.2, 0.2, n_files - 1) * piece
    inner = [int(round((i + 1) * piece + j)) for i, j in enumerate(jitter)]
    return [0] + inner + [n_rows]


def perturb_text(rng, table):
    text = table.column("text").to_pylist()
    hit = rng.random(len(text)) < 0.1
    token = rng.integers(0, 50, len(text))
    text = [f"{s} zq{k}" if h else s for s, h, k in zip(text, hit, token)]
    i = table.schema.get_field_index("text")
    return table.set_column(i, table.schema.field(i), pa.array(text, pa.string()))


def perturb_vectors(rng, table):
    col = table.column("embedding").combine_chunks()
    dim = len(col[0])
    vecs = col.values.to_numpy(zero_copy_only=False).astype(np.float32).reshape(-1, dim)
    hit = np.nonzero(rng.random(len(vecs)) < 0.1)[0]
    vecs[hit, rng.integers(0, dim, len(hit))] += rng.normal(0, 1e-3, len(hit)).astype(np.float32)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim).cast(col.type)
    i = table.schema.get_field_index("embedding")
    return table.set_column(i, table.schema.field(i), arr)


def replicate(table, name, reps, offset):
    """reps copies of the table, copy r with keys shifted by
    offset + r * KEY_STRIDE (and events shifted r time spans later)."""
    parts = []
    span = None
    if name == "events":
        ts = table.column("ts")
        lo, hi = pc.min_max(ts).values()
        span = (hi.value - lo.value) + 3_600_000_000  # micros, plus an hour
    for r in range(reps):
        t = table
        for k in KEYS.get(name, []):
            i = t.schema.get_field_index(k)
            t = t.set_column(i, t.schema.field(i),
                             pc.add(t.column(k), offset + r * KEY_STRIDE))
        if span is not None and r > 0:
            i = t.schema.get_field_index("ts")
            shifted = pc.add(t.column("ts").cast(pa.int64()), r * span)
            t = t.set_column(i, t.schema.field(i), shifted.cast(t.schema.field(i).type))
        parts.append(t)
    return pa.concat_tables(parts).combine_chunks()


def generate(base_dir, out_dir, workload, seed):
    """Write the workload's tables for this seed; returns {table: rows}."""
    rng = np.random.default_rng([seed, 7])
    offset = int(rng.integers(1, 1000)) * 1000
    rows = {}
    for name, (reps, files) in sorted(SPECS[workload].items()):
        table = pq.read_table(f"{base_dir}/{name}.parquet").replace_schema_metadata(None)
        if name == "documents":
            table = perturb_text(rng, table)
        if name == "embeddings":
            table = perturb_vectors(rng, table)
        table = replicate(table, name, reps, offset)
        path = f"{out_dir}/{name}.parquet"
        os.makedirs(path, exist_ok=True)
        cuts = split_points(rng, table.num_rows, files)
        for i in range(files):
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                           f"{path}/part-{i:05d}.parquet")
        rows[name] = table.num_rows
    return rows


def digest(path):
    """SHA-256 over every file's relative path and bytes under path."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
