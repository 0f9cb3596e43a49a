#!/usr/bin/env python3
"""Deterministic tick generator for the ``ingest_ticks`` workload.

``ticks(out, seed, n_ticks, docs_per_tick, vecs_per_tick)`` writes the
arrivals as parquet with pyarrow. Each tick is one copy of a seeded
sample of the sf0.1 ``documents``/``embeddings`` tables (``data/sf0.1``,
a copy of the project's testdata), replicated the way
``graft.tools.GenScale`` scales sf0.1 to sf1: ids shift by a per-copy
offset, every word of a copy's text is prefixed with a per-copy tag
(copies stay disjoint in shingle space) and embeddings get a per-copy
additive perturbation. On top of that a seeded share of each tick's
documents are near-duplicates of documents from EARLIER ticks, so store
probes find cross-tick pairs and label merges touch stored components.
The first tick, which has no earlier tick, gets the same share of
near-duplicates of its own documents, so every tick finds pairs and
the label store exists from the first tick on, whatever the sample.

Usage: gen.py <out> <seed> <n_ticks> <docs_per_tick> <vecs_per_tick>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
ID_OFFSET = 10_000_000   # GenScale's doc_id / vec_id copy offset
DUP_SHARE = 0.08          # per tick: planted near-dups of earlier docs


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _list_col(v):
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))


def _tag(text, k):
    return " ".join(f"c{k}{w}" for w in text.split(" "))


def ticks(out, seed, n_ticks, docs_per_tick, vecs_per_tick, pool=POOL):
    """Write out/docs/tick=NNNNN.parquet and out/vecs/tick=NNNNN.parquet.

    `pool` holds documents.parquet and embeddings.parquet (fixed);
    `seed` picks each tick's sample, the planted cross-tick
    near-duplicates and the embedding noise."""
    pool_docs = pq.read_table(os.path.join(pool, "documents.parquet"))
    pool_vecs = pq.read_table(os.path.join(pool, "embeddings.parquet"))
    p_text = pool_docs.column("text").to_pylist()
    p_lang = pool_docs.column("lang").to_pylist()
    p_vec = np.array(pool_vecs.column("embedding").to_pylist(), dtype=np.float32)
    p_label = pool_vecs.column("label").to_numpy()
    rng = np.random.default_rng(seed)
    history = []  # texts of the docs ingested so far
    for k in range(n_ticks):
        pick = np.sort(rng.choice(len(p_text), docs_per_tick, replace=False))
        ids, texts, langs = [], [], []
        n_dup = int(round(DUP_SHARE * docs_per_tick))
        fresh = []  # this tick's own (not planted) texts
        for j, i in enumerate(pick):
            ids.append(k * ID_OFFSET + int(i))
            if j >= docs_per_tick - n_dup:
                # a near-duplicate of an earlier tick's doc (of an earlier
                # doc of this tick in the first tick): its text, already
                # tagged with its tick's copy tag, plus one word of this
                # tick's vocabulary
                src = history or fresh
                text = src[rng.integers(0, len(src))] + f" c{k}dup"
            else:
                text = _tag(p_text[i], k)
                fresh.append(text)
            texts.append(text)
            langs.append(p_lang[i])
        history.extend(fresh)
        docs = pa.table({
            "doc_id": pa.array(np.array(ids, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
        })
        vpick = np.sort(rng.choice(len(p_vec), vecs_per_tick, replace=False))
        v = p_vec[vpick] + np.float32(k * 0.001) + \
            rng.normal(0.0, 0.01, (vecs_per_tick, p_vec.shape[1])).astype(np.float32)
        vecs = pa.table({
            "vec_id": pa.array((k * ID_OFFSET + vpick).astype(np.int64)),
            "embedding": _list_col(v.astype(np.float32)),
            "label": pa.array(p_label[vpick].astype(np.int32)),
        })
        _write(docs, os.path.join(out, "docs", f"tick={k:05d}.parquet"))
        _write(vecs, os.path.join(out, "vecs", f"tick={k:05d}.parquet"))


def main(argv):
    if len(argv) != 5:
        sys.exit(__doc__)
    ticks(argv[0], int(argv[1]), int(argv[2]), int(argv[3]), int(argv[4]))


if __name__ == "__main__":
    main(sys.argv[1:])
