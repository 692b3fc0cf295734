"""Seeded `embeddings` and `documents` tables for the vector_ann workload,
in the shape of the battery's tables (SparkEntry reads
<dir>/embeddings.parquet and <dir>/documents.parquet):

  embeddings(vec_id bigint, embedding array<float>, label int)
  documents(doc_id bigint, text string, lang string, source string,
            n_chars bigint)

Vectors are 64-dimensional points around seeded cluster centres (40 at
the full size), so near-duplicate and top-k queries have structure to
find."""

import random

import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
WORDS = ("a the table scan agg row key join data big fast line value part "
         "hash group order small query window filter customer stream batch "
         "column merge sort slow spark vector dup").split()
LANGS = ("en", "fr", "de", "zh", "es")
# (vectors, documents, clusters)
SIZES = {"full": (4000, 400, 40), "smoke": (200, 300, 10)}


def write(out_dir, seed, size):
    n_vec, n_doc, clusters = SIZES[size]
    rng = random.Random(seed)
    centres = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(clusters)]
    labels, vecs = [], []
    for _ in range(n_vec):
        label = rng.randrange(clusters)
        v = [c + rng.gauss(0.0, 0.6) for c in centres[label]]
        norm = sum(x * x for x in v) ** 0.5
        labels.append(label)
        vecs.append([x / norm for x in v])
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")

    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 60)))
             for _ in range(n_doc)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_doc)], pa.string()),
        "source": pa.array([f"src{rng.randrange(5)}" for _ in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
