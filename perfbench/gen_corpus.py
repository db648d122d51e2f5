"""Seeded LLM corpus for the corpus_serve workload, in the schemas of the
engine's `documents` and `embeddings` tables:

  documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR,
            n_chars BIGINT)
  embeddings(vec_id BIGINT, embedding FLOAT[64], label INTEGER)

Texts are 10-100 words over the engine test corpus's 30-word vocabulary.
Some documents are exact copies of an earlier one (recorded as planted
pairs, each of which dedup_minhash_lsh must report) and some are near
copies (a few words changed, or " dup" appended). vec_id follows doc_id
for the first EMBEDDED documents; vectors are unit-length, drawn around
ten label centroids.
"""
import math
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOCS = 500
EMBEDDED = 200
DIM = 64
EXACT_SHARE, NEAR_SHARE = 0.02, 0.04
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")


def generate(root, seed):
    rng = random.Random(seed)
    texts, exact_pairs = [], []
    originals = []
    for i in range(DOCS):
        x = rng.random()
        if originals and x < EXACT_SHARE:
            j = rng.choice(originals)
            texts.append(texts[j])
            exact_pairs.append([j, i])
        elif originals and x < EXACT_SHARE + NEAR_SHARE:
            words = texts[rng.choice(originals)].split(" ")
            if rng.random() < 0.5:
                words.append("dup")
            else:
                for _ in range(rng.randint(1, 3)):
                    words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choices(WORDS, k=rng.randint(10, 100))))
            originals.append(i)
    docs = pa.table({
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, f"{root}/documents.parquet")

    centroids = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(EMBEDDED):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.7) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(label)
        vecs.append([x / norm for x in v])
    emb = pa.table({
        "vec_id": pa.array(range(EMBEDDED), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, f"{root}/embeddings.parquet")
    return {"corpus_dir": root, "docs": DOCS, "embedded": EMBEDDED,
            "exact_pairs": exact_pairs}
