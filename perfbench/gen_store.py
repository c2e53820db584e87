"""Seeded inputs for the `store_hybrid` workload.

A documents/embeddings corpus at the sf0.1 sizes (5,000 documents, 2,000
64-d embeddings around ten cluster centres), a stream of mutation ticks
(adds, deletes and updates of both) and batches of hybrid queries. The
generator tracks the live corpus so deletes and updates carry the current
text or vector, as the stores' statistics folds require.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCS, VECS, DIM = 5000, 2000, 64
TICKS = 40
DOC_OPS, VEC_OPS = 20, 10  # per kind (add, delete, update) per tick
BATCHES, BATCH = 16, 8
WORDS = ("batch part spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row table stream merge data vector "
         "index join shuffle plan cache store delta commit probe rank fuse score").split()


def _text(rng):
    return " ".join(rng.choice(WORDS, size=rng.integers(8, 60)))


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _vectors(rng, centres, n):
    labels = rng.integers(0, len(centres), size=n)
    return (centres[labels] + 0.35 * rng.standard_normal((n, DIM))).astype(np.float32)


def _emb_col(vecs):
    return pa.array([v.tolist() for v in vecs], pa.list_(pa.float32()))


def generate(inputs, seed):
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((10, DIM))
    docs = {i: _text(rng) for i in range(DOCS)}
    vecs = dict(enumerate(_vectors(rng, centres, VECS)))
    _write(os.path.join(inputs, "tables", "documents.parquet"),
           {"doc_id": pa.array(list(docs), pa.int64()), "text": list(docs.values())})
    _write(os.path.join(inputs, "tables", "embeddings.parquet"),
           {"vec_id": pa.array(list(vecs), pa.int64()), "embedding": _emb_col(vecs.values())})
    next_doc, next_vec, ticks = DOCS, VECS, []
    for t in range(TICKS):
        name = f"tick_{t:04d}"
        ops, ids, text, old = [], [], [], []
        victims = rng.choice(sorted(docs), size=2 * DOC_OPS, replace=False)
        for i in victims[:DOC_OPS]:
            ops.append("delete"); ids.append(int(i)); text.append(docs.pop(int(i))); old.append(None)
        for i in victims[DOC_OPS:]:
            new = _text(rng)
            ops.append("update"); ids.append(int(i)); text.append(new); old.append(docs[int(i)])
            docs[int(i)] = new
        for _ in range(DOC_OPS):
            docs[next_doc] = _text(rng)
            ops.append("add"); ids.append(next_doc); text.append(docs[next_doc]); old.append(None)
            next_doc += 1
        _write(os.path.join(inputs, name, "docs.parquet"),
               {"op": ops, "doc_id": pa.array(ids, pa.int64()), "text": text,
                "old_text": pa.array(old, pa.string())})
        vops, vids, emb = [], [], []
        victims = rng.choice(sorted(vecs), size=2 * VEC_OPS, replace=False)
        fresh = _vectors(rng, centres, 2 * VEC_OPS)
        for i in victims[:VEC_OPS]:
            vops.append("delete"); vids.append(int(i)); emb.append(vecs.pop(int(i)))
        for j, i in enumerate(victims[VEC_OPS:]):
            vops.append("update"); vids.append(int(i)); emb.append(fresh[j])
            vecs[int(i)] = fresh[j]
        for j in range(VEC_OPS):
            vecs[next_vec] = fresh[VEC_OPS + j]
            vops.append("add"); vids.append(next_vec); emb.append(vecs[next_vec])
            next_vec += 1
        _write(os.path.join(inputs, name, "vecs.parquet"),
               {"op": vops, "vec_id": pa.array(vids, pa.int64()), "embedding": _emb_col(emb)})
        ticks.append(f"{name}\t{len(ops) + len(vops)}")
    with open(os.path.join(inputs, "ticks.tsv"), "w") as fh:
        fh.write("\n".join(ticks) + "\n")
    qids = np.arange(BATCHES * BATCH) + 10_000_000
    _write(os.path.join(inputs, "query_vecs.parquet"),
           {"vec_id": pa.array(qids, pa.int64()),
            "embedding": _emb_col(_vectors(rng, centres, len(qids)))})
    with open(os.path.join(inputs, "queries.tsv"), "w") as fh:
        for i, q in enumerate(qids):
            fh.write(f"{i // BATCH}\t{q}\t{' '.join(rng.choice(WORDS, size=3))}\n")
