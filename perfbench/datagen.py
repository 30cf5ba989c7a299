"""Seeded input tables for the benchmark workloads.

The base rows are a copy of the engine's synthetic gate tables, kept in
`perfbench/data/`: `documents` (5,000 rows) and `events` (100,000) at
scale factor 0.1, `lineitem` (60,000) and `orders` (15,000) at scale
factor 0.01, the size at which the graph stages' DuckDB oracles fit in
a run. The seed varies them two ways:

- every table's row order is a seeded permutation;
- 5 % more documents are added as near-duplicates of seeded originals:
  a copy with 1-3 words replaced by other words of the corpus (seeded
  positions and words), ending in the `dup` token the corpus's own
  near-duplicates carry.

Each table is written as one parquet file (`<dir>/<name>.parquet`),
the layout `sources.load_table`, `streaming.jobs.read_events_stream`
and the DuckDB oracles read.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "data"
TABLES = ("documents", "events", "lineitem", "orders")
NEAR_DUP_SHARE = 0.05  # near-duplicate copies added on top of the documents
DUP_TOKEN = "dup"


def vocabulary(texts) -> list[str]:
    """The distinct words of `texts`, sorted."""
    return sorted({w for t in texts for w in t.split()})


def add_near_duplicates(rng: np.random.Generator, documents: pa.Table) -> pa.Table:
    texts = documents.column("text").to_pylist()
    langs = documents.column("lang").to_pylist()
    words = [w for w in vocabulary(texts) if w != DUP_TOKEN]
    next_id = pc.max(documents.column("doc_id")).as_py() + 1
    n = int(round(documents.num_rows * NEAR_DUP_SHARE))
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i, src in enumerate(rng.choice(documents.num_rows, n, replace=False)):
        doc = [w for w in texts[src].split(" ") if w != DUP_TOKEN]
        for _ in range(int(rng.integers(1, 4))):
            pos = int(rng.integers(0, len(doc)))
            doc[pos] = str(rng.choice([w for w in words if w != doc[pos]]))
        text = " ".join(doc + [DUP_TOKEN])
        doc_id = next_id + i
        rows["doc_id"].append(doc_id)
        rows["text"].append(text)
        rows["lang"].append(langs[src])
        rows["source"].append(f"src{doc_id % 20}")  # the corpus's doc_id -> source rule
        rows["n_chars"].append(len(text))
    return pa.concat_tables([documents, pa.table(rows, schema=documents.schema)])


def write_tables(out_dir: str, seed: int, names: tuple[str, ...]) -> dict[str, int]:
    """Write the named tables for `seed`; return their row counts.

    Each table draws from its own stream (seed, table index), so a
    workload that needs fewer tables still gets the same rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        table = pq.read_table(BASE / f"{name}.parquet")
        if name == "documents":
            table = add_near_duplicates(rng, table)
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return rows
