"""Seeded ANN inputs for the benchmark.

The catalog the workloads read is the engine's own seed-42 fixture set at
scale factor 0.01, committed under ``perfbench/fixtures``. ``ann_inputs``
draws, from ``--seed``, what a run adds to it: the small-search query
batches, the append delta and the exact top-k every batch must be checked
against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _normalize(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_column(x):
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1]), pa.int32())
    return pa.ListArray.from_arrays(offsets, flat)


def _embeddings(path):
    t = pq.read_table(path)
    return (t.column("vec_id").to_numpy(),
            np.stack(t.column("embedding").to_numpy(zero_copy_only=False)),
            t.column("label").to_numpy())


def _new_cluster(rng, x, label, n):
    """``n`` vectors of a cluster the corpus does not have: a random centre
    with the norm of the corpus's label means, plus the deviations of
    random corpus vectors from their own label mean, so the new cluster
    has the corpus's within-cluster spread."""
    labels = np.unique(label)
    means = np.stack([x[label == c].mean(0) for c in labels])
    dev = x - means[np.searchsorted(labels, label)]
    centre = rng.standard_normal(x.shape[1])
    centre *= np.linalg.norm(means, axis=1).mean() / np.linalg.norm(centre)
    return _normalize(centre + dev[rng.integers(0, len(x), n)])


def ann_inputs(out_dir, corpus_path, seed, n_batches, batch, n_delta,
               n_appends, k):
    """Query batches and the append delta for one run, drawn from ``seed``.

    Queries are corpus vectors moved by a small random step, so each has a
    real neighbourhood; their ids start at -1 and go down so they can never
    collide with a corpus id. The delta vectors are a new cluster under
    fresh ids above the corpus maximum, split into ``n_appends`` files
    ``d<i>.parquet`` appended in turn. The probe batch is the first
    ``batch`` delta vectors, each under query id -(10**9 + its delta id):
    searching it after the appends must reach appended ids. ``truth.csv``
    holds the exact top-``k`` of every batch, ``sizes.csv`` the row counts
    the outputs are checked against.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids, x, label = _embeddings(corpus_path)

    for b in range(n_batches):
        v = x[rng.integers(0, len(x), batch)]
        q = _normalize(v + 0.01 * rng.standard_normal(v.shape))
        qid = -1 - (b * batch + np.arange(batch, dtype=np.int64))
        pq.write_table(pa.table({"vec_id": qid, "embedding": _vec_column(q)}),
                       os.path.join(out_dir, f"q{b:04d}.parquet"))
    dv = _new_cluster(rng, x, label, n_delta)
    did = int(ids.max()) + 1 + np.arange(n_delta, dtype=np.int64)
    sizes = [f"corpus_rows,{len(ids)}", f"corpus_max_id,{ids.max()}"]
    for i, part in enumerate(np.array_split(np.arange(n_delta), n_appends)):
        pq.write_table(pa.table({"vec_id": did[part],
                                 "embedding": _vec_column(dv[part]),
                                 "label": np.zeros(len(part), np.int32)}),
                       os.path.join(out_dir, f"d{i}.parquet"))
        sizes.append(f"d{i}.parquet,{len(part)}")
    with open(os.path.join(out_dir, "sizes.csv"), "w") as f:
        f.write("\n".join(sizes) + "\n")
    pq.write_table(pa.table({"vec_id": -(10**9 + did[:batch]),
                             "embedding": _vec_column(dv[:batch])}),
                   os.path.join(out_dir, "delta_probe.parquet"))
    truth(out_dir, ids, x, did, dv, n_batches, k)


def truth(out_dir, ids, x, did, dv, n_batches, k):
    """Exact cosine top-k of every query batch before and after the append,
    ranked as Similarity.exactTopK ranks (cosine descending, then id), as
    ``truth.csv`` rows ``phase,q_id,vec_id``."""
    def ranked(qid, q, cid, c):
        cos = (q.astype(np.float64) @ c.astype(np.float64).T) / np.outer(
            np.linalg.norm(q.astype(np.float64), axis=1),
            np.linalg.norm(c.astype(np.float64), axis=1))
        for i in range(len(qid)):
            for j in np.lexsort((cid, -cos[i]))[:k]:
                yield qid[i], cid[j]

    rows = []
    for b in range(n_batches):
        t = pq.read_table(os.path.join(out_dir, f"q{b:04d}.parquet"))
        qid = t.column("vec_id").to_numpy()
        q = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        rows += [f"before,{a},{v}" for a, v in ranked(qid, q, ids, x)]
        rows += [f"after,{a},{v}" for a, v in ranked(
            qid, q, np.concatenate([ids, did]), np.concatenate([x, dv]))]
    with open(os.path.join(out_dir, "truth.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")
