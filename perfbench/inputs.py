"""Seeded inputs for the benchmark workloads.

Every input comes from the workload seed; the program under test only
receives the generated rows. Extraction corpora come from the
package's own generator (``sources.corpus.make_corpus``). The repository
holds no generator for the ``documents`` and ``embeddings`` tables the
registry queries read, so their shape here is invented: the columns and
types the queries read, word-salad text over a 30-word vocabulary with
planted near-duplicates, five languages, twenty sources, and labelled
64-dim unit vectors.
"""

from __future__ import annotations

import os
import random

from ocr_intern_spark.sources.corpus import SPANS_DDL

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EMBED_DIM = 64


def to_spark(spark, docs: list[dict], path: str):
    """Land the documents as ``nproc`` parquet files and read them
    back, cached, with the canonical input schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    n = spark.sparkContext.defaultParallelism
    os.makedirs(path, exist_ok=True)
    for i in range(n):
        part = docs[i::n]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(path, f"part-{i:04d}.parquet"))
    df = spark.read.schema(SPANS_DDL).parquet(path).cache()
    df.count()
    return df


def documents_rows(n_docs: int, seed: int | str) -> list[dict]:
    """Word-salad documents of 8-90 words; one in twelve is a copy of
    an earlier document with two words replaced, so the dedup leaves
    find real near-duplicate pairs."""
    rng = random.Random(f"documents:{seed}")
    rows: list[dict] = []
    for i in range(n_docs):
        if rows and rng.random() < 1 / 12:
            words = rng.choice(rows)["text"].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(8, 90))]
        text = " ".join(words)
        rows.append({
            "doc_id": i, "text": text, "lang": rng.choice(_LANGS),
            "source": f"src{i % 20}", "n_chars": len(text),
        })
    return rows


def embeddings_rows(n_vecs: int, seed: int | str) -> list[dict]:
    """Unit vectors scattered around ten labelled centres."""
    rng = random.Random(f"embeddings:{seed}")
    centres = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(10)]
    rows = []
    for i in range(n_vecs):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.8) for c in centres[label]]
        norm = sum(x * x for x in v) ** 0.5
        rows.append({"vec_id": i, "embedding": [x / norm for x in v],
                     "label": label})
    return rows


def write_tables(table_dir: str, docs: list[dict], vecs: list[dict]) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` as single
    files, the layout the registry queries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64()),
        ])),
        os.path.join(table_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(vecs, schema=pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ])),
        os.path.join(table_dir, "embeddings.parquet"),
    )
