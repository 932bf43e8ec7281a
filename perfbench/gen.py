"""Seeded input generator for the benchmark.

Every input a workload reads is made here, before the engine starts, from
the workload's sizes and the run's seed alone: the same (workload, seed)
gives byte-identical files. Vectors are a Gaussian mixture. `spread` is the
within-cluster standard deviation relative to unit-variance centres; it is
set high enough that clusters overlap and approximate search misses some
true neighbours (recall@10 clearly below 1).

Files written into the output directory:
  corpus/embeddings.parquet  vec_id (dense 0..n-1), embedding, label
  slab/embeddings.parquet    held-back rows with ids n..n+slab-1 (if slab > 0)
  corpus.ndjson              the corpus in the reference's NDJSON format, with
                             malformed and vectorless lines planted at fixed
                             rates (if ndjson is set)
  manifest.json              sizes, parameters and planted-line counts
"""

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# a malformed line after every MALFORMED_EVERY-th record, a vectorless one
# after every VECTORLESS_EVERY-th (the reference reader's two drop cases)
MALFORMED_EVERY = 10
VECTORLESS_EVERY = 25


def rng_for(workload, seed):
    # crc32, not hash(): str hashes are salted per process
    return np.random.default_rng([zlib.crc32(workload.encode()), seed])


def mixture(rng, rows, dim, clusters, spread, labels):
    centres = rng.standard_normal((clusters, dim))
    cid = rng.integers(0, clusters, rows)
    vecs = centres[cid] + spread * rng.standard_normal((rows, dim))
    return vecs.astype(np.float32), (cid % labels).astype(np.int32)


def write_parquet(path, first_id, vecs, labels):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    dim = vecs.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim)
    table = pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + len(vecs), dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(table, path)


def ndjson_lines(vecs, labels):
    """The reference's record shape, floats written as the widened double's
    shortest repr so the JSON parse recovers exactly the parquet value."""
    planted = 0
    for i, (v, lab) in enumerate(zip(vecs.astype(np.float64), labels)):
        emb = ",".join(repr(x) for x in v.tolist())
        yield (f'{{"body": "Doc {i} label {lab}. Row {i} of the benchmark corpus.", '
               f'"text-embedding-ada-002": [{emb}]}}')
        if i % MALFORMED_EVERY == MALFORMED_EVERY - 1:
            planted += 1
            yield '{"body": 17 "broken json'
        if i % VECTORLESS_EVERY == VECTORLESS_EVERY - 1:
            planted += 1
            yield '{"body": "stray row without a vector", "text-embedding-ada-002": null}'


def planted_lines(rows):
    return rows // MALFORMED_EVERY + rows // VECTORLESS_EVERY


def generate(workload, spec, seed, out):
    """Write the inputs of `workload` (sizes in `spec`) for `seed` into `out`
    and return the manifest."""
    rng = rng_for(workload, seed)
    total = spec["rows"] + spec.get("slab", 0)
    vecs, labels = mixture(rng, total, spec["dim"], spec["clusters"],
                           spec["spread"], spec["labels"])
    n = spec["rows"]
    corpus = os.path.join(out, "corpus")
    write_parquet(os.path.join(corpus, "embeddings.parquet"), 0, vecs[:n], labels[:n])
    manifest = dict(spec, workload=workload, seed=seed, dir=corpus)
    if spec.get("slab", 0) > 0:
        slab = os.path.join(out, "slab")
        write_parquet(os.path.join(slab, "embeddings.parquet"), n, vecs[n:], labels[n:])
        manifest["slab_dir"] = slab
    if spec.get("ndjson"):
        path = os.path.join(out, "corpus.ndjson")
        with open(path, "w") as f:
            for line in ndjson_lines(vecs[:n], labels[:n]):
                f.write(line + "\n")
        manifest["ndjson"] = path
        manifest["ndjson_planted"] = planted_lines(n)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
