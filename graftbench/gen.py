"""Seeded input generator for the graft benchmark.

Writes the documents and embeddings tables of the corpus_pipeline
workload, with the same schemas and value shapes as the repo's sf
testdata, and the message inputs of the live_topic workload. Everything
is a pure function of (seed, workload): the same seed gives
byte-identical files, which `manifest()` lets a caller check.

    python3 graftbench/gen.py --workload corpus_pipeline --seed 1 --out DIR
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
# long, stopword-free tokens: live_topic messages must pass the cleaning
# stream's quality gate, so every acknowledged message reaches the tail
LIVE_VOCAB = ("partitioning compaction watermarking checkpointing serialization "
              "aggregation materialization vectorization shuffling broadcasting "
              "deduplication tokenization quantization replication").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

# per-workload input shape
CORPUS_DOCS = 2_000
CORPUS_VECS = 800
LIVE_BACKLOG_FILES = 1_000
LIVE_BACKLOG_PER_FILE = 4
LIVE_MESSAGES = 2_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def documents(rng, n):
    """Documents with planted exact and near duplicates across sources.

    About 5 % of documents are near duplicates: a later document repeats an
    earlier one's text with one token appended. About 0.5 % are exact
    copies. Copies land in a different source (source = doc_id mod 20).
    """
    lens = rng.integers(8, 96, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, off = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[off:off + k]))
        off += k
    near = rng.random(n) < 0.05
    exact = rng.random(n) < 0.005
    src_of = rng.integers(0, n, size=n)
    for i in range(1, n):
        if near[i] or exact[i]:
            j = int(src_of[i]) % i
            texts[i] = texts[j] if exact[i] else texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n):
    """Unit 64-d float vectors in 10 labelled clusters; 3 % are noisy
    copies of an earlier vector (embedding near duplicates)."""
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(0.0, 0.01, size=(10, 64))
    v = rng.normal(0.0, 0.125, size=(n, 64)) + centers[labels]
    dup = rng.random(n) < 0.03
    src = rng.integers(0, n, size=n)
    for i in np.nonzero(dup)[0]:
        if i > 0:
            v[i] = v[int(src[i]) % i] + rng.normal(0.0, 0.01, size=64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * 64, 64, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def live_docs(rng, n, prefix):
    """Unique, quality-gate-passing documents for the live topic."""
    k = rng.integers(0, len(LIVE_VOCAB), size=(n, 48))
    texts = [f"{prefix}{i:07d} " + " ".join(LIVE_VOCAB[w] for w in row)
             for i, row in enumerate(k)]
    return pa.table({
        "position": [f"{prefix}{i:07d}" for i in range(n)],
        "text": texts,
        "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, size=n)]})


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, {"corpus_pipeline": 1, "live_topic": 3}[workload]])
    if workload == "corpus_pipeline":
        _write(documents(rng, CORPUS_DOCS), os.path.join(out, "documents.parquet"))
        _write(embeddings(rng, CORPUS_VECS), os.path.join(out, "embeddings.parquet"))
    elif workload == "live_topic":
        _write(live_docs(rng, LIVE_BACKLOG_FILES * LIVE_BACKLOG_PER_FILE, "b"),
               os.path.join(out, "backlog.parquet"))
        _write(live_docs(rng, LIVE_MESSAGES, "l"), os.path.join(out, "live.parquet"))
        with open(os.path.join(out, "shape.json"), "w") as f:
            json.dump({"backlog_files": LIVE_BACKLOG_FILES,
                       "backlog_per_file": LIVE_BACKLOG_PER_FILE}, f, sort_keys=True)
    else:
        raise ValueError(f"unknown workload {workload}")
    return manifest(out)


def manifest(out):
    """{file name: sha256} of every generated file."""
    digests = {}
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    return digests


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), indent=1))
