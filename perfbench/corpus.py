#!/usr/bin/env python3
"""The admission_stream input: documents.parquet and embeddings.parquet.

The streamed admission loop reads the repository's fixture tables
`documents` and `embeddings`. A checkout does not hold them, so the
benchmark makes tables with the fixture's measured properties
(`make_corpus`), always from CORPUS_SEED: like the fixture, the input is
one fixed corpus, and a run's --seed does not change it. `measure` prints those properties for any pair of
tables, so a fixture and a generated corpus can be compared:

    python3 perfbench/corpus.py <dir with documents.parquet and embeddings.parquet> ...
    python3 perfbench/corpus.py --make <out dir> --seed 1

The generator's parameters, as `measure` reads them from the fixture
slices sf0.001 and sf0.01 (identical in shape):
  - 500 documents and 500 embeddings; doc_id and vec_id are 0..499;
  - a text is 10 to 99 words (uniform: mean 54-56, sd 25-26), drawn with
    replacement from one 30-word vocabulary with flat frequencies
    (chi-square per degree of freedom 0.9);
  - exactly 5% of the documents (25) are another document's text plus
    " dup";
  - lang is en for 39-44% and fr, es, zh, de for 13-16% each;
  - source is src<doc_id % 20>, n_chars the text's length;
  - an embedding is a 64-d float32 unit vector with a label 0..9 (42-63
    per label) and no clustering by label: same-label and cross-label
    mean cosines are both 0.000-0.002, a label centroid's norm is
    0.13-0.18 (0.14 for random vectors), the mean nearest-neighbour
    cosine 0.37; a duplicate's embedding is unrelated to its source's.
"""
import argparse
import collections
import sys
from pathlib import Path

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
DIM = 64
LABELS = 10
DUP_SHARE = 0.05
# st25 runs on one fixed corpus, as it does on the one fixture slice
CORPUS_SEED = 42


def make_corpus(out, seed, n):
    """Writes n documents and n embeddings with the fixture's properties."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 100, n)
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)) for k in lens]
    for i in rng.choice(n, round(n * DUP_SHARE), replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, p=LANG_P, size=n).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, LABELS, n), pa.int32()),
    })
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, out / "documents.parquet")
    pq.write_table(emb, out / "embeddings.parquet")


def measure(d):
    """The properties the generator reproduces, as text lines."""
    import numpy as np
    import pyarrow.parquet as pq

    docs = pq.read_table(Path(d) / "documents.parquet").to_pandas()
    emb = pq.read_table(Path(d) / "embeddings.parquet").to_pandas()
    texts = list(docs.text)
    dup = [t.endswith(" dup") for t in texts]
    words = [t.split() for t, x in zip(texts, dup) if not x]
    lens = np.array([len(w) for w in words])
    freq = np.array(list(collections.Counter(x for w in words for x in w).values()))
    langs = collections.Counter(docs.lang)
    v = np.stack(emb.embedding.values).astype(np.float64)
    lab = emb.label.values
    sims = v @ v.T
    np.fill_diagonal(sims, np.nan)
    same = lab[:, None] == lab[None, :]
    centroids = [np.linalg.norm(v[lab == k].mean(0)) for k in sorted(set(lab))]
    return [
        f"documents {len(docs)}, embeddings {len(emb)}, ids 0..n-1: "
        f"{(docs.doc_id.values == np.arange(len(docs))).all()} / "
        f"{(emb.vec_id.values == np.arange(len(emb))).all()}",
        f"words per text {lens.min()}-{lens.max()}, mean {lens.mean():.1f}, sd {lens.std():.1f}",
        f"vocabulary {len(freq)} words, chi-square/df of their counts "
        f"{((freq - freq.mean()) ** 2 / freq.mean()).sum() / (len(freq) - 1):.2f}",
        f"duplicates {sum(dup)} ({sum(dup) / len(texts):.1%})",
        "lang " + ", ".join(f"{k} {c / len(docs):.0%}" for k, c in langs.most_common()),
        f"source = src<doc_id % 20>: "
        f"{all(s == f'src{i % 20}' for i, s in zip(docs.doc_id, docs.source))}, "
        f"n_chars = len(text): {all(len(t) == c for t, c in zip(texts, docs.n_chars))}",
        f"embedding dim {v.shape[1]}, norms {np.linalg.norm(v, axis=1).min():.4f}-"
        f"{np.linalg.norm(v, axis=1).max():.4f}",
        f"labels {len(centroids)}, per label {min(collections.Counter(lab).values())}-"
        f"{max(collections.Counter(lab).values())}",
        f"mean cosine same label {np.nanmean(sims[same]):.4f}, cross label "
        f"{np.nanmean(sims[~same]):.4f}, label centroid norms {min(centroids):.2f}-"
        f"{max(centroids):.2f}, nearest neighbour {np.nanmax(sims, axis=1).mean():.2f}",
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dirs", nargs="*", help="directories to measure")
    ap.add_argument("--make", help="write a corpus to this directory first")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--n", type=int, default=500)
    args = ap.parse_args()
    if args.make:
        make_corpus(args.make, args.seed, args.n)
    for d in args.dirs + ([args.make] if args.make else []):
        print(f"== {d}")
        for line in measure(d):
            print(f"  {line}")


if __name__ == "__main__":
    sys.exit(main())
