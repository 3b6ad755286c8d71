"""Seeded input staging for the benchmark workloads.

Every input is a pure function of ``(workload size, seed)`` and is written as
parquet under the run's own work directory; the program under test only
ever receives the staged paths.

- The wiki corpus for ``extract_job`` and ``live_update`` is
  ``kgforge.corpus.corpus_row`` pages (the generator behind
  ``generate_corpus_df`` and ``golden_df``), written in a seed-shuffled row
  order, one file per core so every Python worker is used. ``live_update``'s
  batches are derived from it by the workload, from the same seed.
- The driver-contract tables (``documents``, ``customer``, ``supplier``,
  ``nation``) follow the schema and value ranges of the sf testdata tables the
  ``kg_*`` queries derive their corpora from; the seed picks every value and
  the row order. Ids are dense ``0..n-1``, as the derived corpora assume.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ("en", "de", "fr", "es", "zh")
DOC_LANG_WEIGHTS = (41, 14, 15, 15, 15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _write(rows: list[dict], schema: pa.Schema, path: str, files: int = 1) -> None:
    """Write ``rows`` in their given order; one file is one row group, like the
    sf tables (an unsplittable scan, which ``read_table`` fans out)."""
    if files == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * step : (k + 1) * step]
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema), os.path.join(path, f"part-{k:05d}.parquet")
        )


CORPUS_SCHEMA = pa.schema(
    [(c, pa.string(), False) for c in ("repo", "path", "commit", "lang", "content")]
)


def stage_corpus(path: str, pages: int, seed: int, files: int) -> list[dict]:
    """The synthetic wiki corpus (3 languages, redirect chains, a giant page
    per 5,000) in a seeded row order over ``files`` files; returns its rows."""
    from kgforge import corpus as C

    rng = random.Random(f"corpus:{seed}")
    rows = [C.corpus_row(i, pages) for i in range(pages)]
    rng.shuffle(rows)
    _write(rows, CORPUS_SCHEMA, path, files=files)
    return rows


def write_corpus(rows: list[dict], path: str) -> None:
    """Corpus rows (a live batch, a corpus snapshot) as one parquet file."""
    _write(rows, CORPUS_SCHEMA, os.path.join(path, "part-00000.parquet"))


def stage_documents(sf_dir: str, docs: int, seed: int) -> None:
    rng = random.Random(f"documents:{seed}")
    rows = []
    for i in range(docs):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choices(DOC_LANGS, DOC_LANG_WEIGHTS)[0],
                "source": f"src{rng.randrange(20)}",
                "n_chars": len(text),
            }
        )
    rng.shuffle(rows)
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    _write(rows, schema, os.path.join(sf_dir, "documents.parquet"))


def stage_entities(sf_dir: str, customers: int, suppliers: int, seed: int) -> None:
    """customer/supplier/nation: the tables the Wikidata entity, property and
    lexeme corpora are derived from."""
    rng = random.Random(f"entities:{seed}")
    cust = [
        {
            "c_custkey": i,
            "c_name": f"Customer#{i:09d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
            "c_mktsegment": rng.choice(SEGMENTS),
        }
        for i in range(customers)
    ]
    supp = [
        {
            "s_suppkey": i,
            "s_name": f"Supplier#{i:09d}",
            "s_nationkey": rng.randrange(25),
            "s_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
        }
        for i in range(suppliers)
    ]
    nation = [{"n_nationkey": i, "n_name": f"NATION_{i}", "n_regionkey": i % 5} for i in range(25)]
    for rows in (cust, supp, nation):
        rng.shuffle(rows)
    _write(cust, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                            ("c_mktsegment", pa.string())]),
           os.path.join(sf_dir, "customer.parquet"))
    _write(supp, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                            ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
           os.path.join(sf_dir, "supplier.parquet"))
    _write(nation, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                              ("n_regionkey", pa.int32())]),
           os.path.join(sf_dir, "nation.parquet"))
