"""Seeded input table for the query_mix workload.

Writes `<dir>/documents.parquet` in the layout the registry queries
read: bags of words over a small vocabulary, a language and a source
per document, and about 5% near-duplicates (an earlier original with
" dup" appended) for the dedup stages to find. Duplicates are made only
of originals, so every duplicate cluster is a star and the clustering
does the same number of rounds whatever the seed.
"""
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)


def generate(seed, out_dir, n_docs):
    rng = random.Random(seed)
    texts, originals = [], []
    for i in range(n_docs):
        if len(originals) >= 10 and rng.random() < 0.05:
            texts.append(texts[rng.choice(originals)] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n_docs), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, f"{out_dir}/documents.parquet")
