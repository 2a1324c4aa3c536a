"""Seeded generator for the curation corpus (the `documents` table).

The shape follows the table the curation compositions were written
against: ``doc_id`` 0..n-1, ``text`` of 10-100 words drawn from a
30-word vocabulary, ``lang`` (en 40 %, de/es/fr/zh 15 % each),
``source`` ``src{doc_id % 20}``, ``n_chars = len(text)``. A 5 % share
of documents are near duplicates (an earlier document's text plus
" dup") and a handful are exact duplicates, so the dedup, boilerplate
and quality stages all have work to do.
"""
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [40, 15, 15, 15, 15]


def generate(seed, n_docs):
    rng = random.Random(seed)
    texts, langs = [], []
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.05:
            text = texts[rng.randrange(i)] + " dup"
        elif i >= 20 and r < 0.052:
            text = texts[rng.randrange(i)]
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(10, 100)))
        texts.append(text)
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(path, seed, n_docs):
    pq.write_table(generate(seed, n_docs), path)
