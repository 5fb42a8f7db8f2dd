"""Seeded inputs: bronze weather days and a `documents`-shaped corpus.

The same seed always gives the same files. Bronze days come from the
package's own feed simulator (`pipeline.generate.generate_bronze`), one
directory per day so each can be landed on its own; the corpus mirrors the
synthetic `documents` table (a 30-word vocabulary, 10-100 words per doc,
5% near-duplicates that copy an earlier doc and append " dup").
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def bronze_start(seed: int) -> dt.date:
    """First history day; inside the package's default dim_date range."""
    return dt.date(2024, 1, 1) + dt.timedelta(days=seed % 180)


def generate_history(out_dir: str, seed: int, days: int, extractions: int) -> None:
    generate_bronze(out_dir, start=bronze_start(seed), days=days,
                    extractions_per_day=extractions, seed=seed)


def generate_day(out_dir: str, seed: int, history_days: int, index: int,
                 extractions: int) -> dt.date:
    """Bronze for the `index`-th day after the history, in its own dir."""
    day = bronze_start(seed) + dt.timedelta(days=history_days + index)
    generate_bronze(out_dir, start=day, days=1, extractions_per_day=extractions,
                    seed=seed * 100_003 + index + 1)
    return day


def tree_bytes_files(root: str) -> tuple[int, int]:
    """(total bytes, file count) under `root`."""
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """Write the corpus as one parquet file (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(seed)
    langs, weights = zip(*LANGS)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choices(langs, weights)[0] for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
