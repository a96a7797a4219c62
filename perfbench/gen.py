"""Seeded input generator for the benchmark.

Every table has the schema of the engine's fixture table of the same name
(FIXTURES.md §2), so every query key plans and runs unchanged against it.
Every seeded choice comes from one numpy PCG64 stream per (seed, table),
and parquet is written with fixed options, so the same seed gives
byte-identical files and a different seed gives different ones (checked
by test_perfbench.py).

The curation corpus follows SCALE.md's replication rule over a base
corpus that is the repository's sf0.01 `documents` and `embeddings`
fixture tables (500 rows each, copied unchanged into fixture/): it is
copied N times; each copy gets key offsets (stride max(key) + 1), its own
letter bijection (one of the 6^4 composed rotations of the corpus
alphabet) and its own embedding isometry (circular shift x sign flip x
prefix negation). The seed picks only the bijections and isometries, so
the fixture's duplicate structure is kept in every copy and no document
appears in two copies.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
# SCALE.md's four 6-letter rotation classes over the corpus alphabet
ROT_CLASSES = ["aeiouy", "snrtld", "cmpbgk", "vwfhjq"]
EMB_DIM = 64

_EPOCH = _dt.datetime(1970, 1, 1)


def _rng(seed, table):
    # one independent stream per table: adding a table never shifts
    # another table's values
    salt = sum((i + 1) * ord(c) for i, c in enumerate(table))
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _us(d):
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)], type=pa.string())


def orders(seed, n):
    """The `orders` table with `n` rows."""
    r = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n // 10, n, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(
            _us(_dt.datetime(1995, 1, 1)) +
            r.integers(0, 2404, n).astype(np.int64) * 86_400_000_000,
            type=pa.timestamp("us")),
        "o_orderpriority": _pick(r, PRIORITIES, n)})


def _bijection(idx):
    """SCALE.md's composed rotation number `idx` (0..1295) as a
    str.translate table; idx 0 is the identity."""
    src, dst = "", ""
    for c, cls in enumerate(ROT_CLASSES):
        k = (idx // 6 ** c) % 6
        src += cls
        dst += cls[k:] + cls[:k]
    return str.maketrans(src, dst)


def _isometry(vecs, idx):
    """Norm-preserving variant `idx` (0..1023): circular shift, global
    sign flip, negation of the first 8*p coordinates."""
    v = idx % (2 * EMB_DIM)
    out = np.roll(vecs, -(v % EMB_DIM), axis=1)
    if v >= EMB_DIM:
        out = -out
    prefix = 8 * ((idx // (2 * EMB_DIM)) % 8)
    out = out.copy()
    out[:, :prefix] = -out[:, :prefix]
    return out


def fixture(base_rows):
    """The first `base_rows` rows of the fixture documents and
    embeddings."""
    return {t: pq.read_table(os.path.join(FIXTURE, f"{t}.parquet"))
            .slice(0, base_rows).replace_schema_metadata(None)
            for t in ("documents", "embeddings")}


def corpus(seed, base_rows, replicas):
    """documents + embeddings: the fixture's first `base_rows` rows
    copied `replicas` times."""
    base = fixture(base_rows)
    docs, emb = base["documents"], base["embeddings"]
    r = _rng(seed, "documents")
    perms = r.choice(6 ** 4, size=replicas, replace=False)
    isos = _rng(seed, "embeddings").choice(2 * EMB_DIM * 8, size=replicas,
                                           replace=False)
    d_stride = pc.max(docs["doc_id"]).as_py() + 1
    e_stride = pc.max(emb["vec_id"]).as_py() + 1
    texts = docs["text"].to_pylist()
    vecs = np.asarray(emb["embedding"].to_pylist(), dtype=np.float32)
    d_parts, e_parts = [], []
    for k in range(replicas):
        tr = _bijection(int(perms[k]))
        d_parts.append(docs.set_column(
            0, "doc_id", pc.add(docs["doc_id"], k * d_stride)).set_column(
            1, "text", pa.array([t.translate(tr) for t in texts], pa.string())))
        moved = _isometry(vecs, int(isos[k])).astype(np.float32)
        e_parts.append(emb.set_column(
            0, "vec_id", pc.add(emb["vec_id"], k * e_stride)).set_column(
            1, "embedding", pa.ListArray.from_arrays(
                pa.array(np.arange(0, moved.size + 1, EMB_DIM, dtype=np.int32)),
                pa.array(moved.reshape(-1), type=pa.float32()))
            .cast(emb.schema.field("embedding").type)))
    return {"documents": pa.concat_tables(d_parts),
            "embeddings": pa.concat_tables(e_parts)}


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 22)


def inputs(workload, seed, warm=False):
    """A workload's tables (sizes in README.md). `warm` gives the small
    tables of the same shapes that set-up's warm-up ops run on."""
    if workload == "lakehouse_rw":
        # its warm-up runs on the table itself
        return {} if warm else {"orders": orders(seed, 30_000)}
    if workload == "curation_pipeline":
        return corpus(seed, base_rows=60 if warm else 500, replicas=2)
    raise ValueError(f"unknown workload {workload}")
