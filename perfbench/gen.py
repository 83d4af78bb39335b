"""Seeded benchmark inputs, derived from the repository's test tables.

``data/<sf>/`` holds a copy of the test tables (``region nation customer
supplier part orders lineitem events documents embeddings``) at two scale
factors: ``sf0.01`` for the benchmark and ``sf0.001`` for the smoke test.
:func:`generate` writes a run's input directory from them and a seed:

* every table but ``documents`` is copied as it is;
* ``documents`` is the test corpus plus seeded near-duplicate copies, as
  many as the corpus already holds (:func:`near_duplicate_share`: 24 copies
  on 476 originals at sf0.01). A copy is its source with `` dup`` appended,
  the form the test corpus's own copies take, so every near-duplicate pair
  has a 3-shingle Jaccard of at least 8/9, where MinHash-LSH at 16 bands x
  4 rows finds it with probability 1 - 1e-7: the condition under which
  ``q_dedup_minhash``'s exact all-pairs oracle is its reference.

Query traffic and the churn workload's new documents are drawn from the
same corpus with the seed (:func:`term_weights`, :func:`new_documents`).
The same ``(seed, scale)`` always gives byte-identical inputs; the library
only ever sees the generated files.
"""

from __future__ import annotations

import collections
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
SCALES = {"bench": "sf0.01", "tiny": "sf0.001"}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
DUP_TOKEN = "dup"


def _is_copy(texts: "list[str]") -> np.ndarray:
    """Which of ``texts`` are another of them plus one appended token."""
    have = set(texts)
    heads = (t.rsplit(" ", 1)[0] for t in texts)
    return np.array([h != t and h in have for t, h in zip(texts, heads)])


def near_duplicate_share(texts: "list[str]") -> float:
    """Copies per original in ``texts``."""
    copies = int(_is_copy(texts).sum())
    return copies / (len(texts) - copies)


def _documents(rng, table: pa.Table) -> pa.Table:
    """The corpus plus ``near_duplicate_share`` of seeded copies of its
    originals (never of a copy), with ids above every original
    ``doc_id``."""
    texts = table.column("text").to_pylist()
    n_dup = int(round(len(texts) * near_duplicate_share(texts)))
    originals = np.flatnonzero(~_is_copy(texts))
    src = np.sort(rng.choice(originals, size=n_dup, replace=False))
    copies = table.take(src)
    dup_texts = [f"{t} {DUP_TOKEN}" for t in copies.column("text").to_pylist()]
    first = pc.max(table.column("doc_id")).as_py() + 1
    for name, values in (("doc_id", np.arange(first, first + n_dup)),
                         ("text", dup_texts),
                         ("n_chars", [len(t) for t in dup_texts])):
        i = copies.schema.get_field_index(name)
        field = copies.schema.field(i)
        copies = copies.set_column(i, field, pa.array(values, field.type))
    return pa.concat_tables([table, copies])


def generate(out_dir: str, seed: int, scale: str = "bench") -> str:
    """Write every table for ``(seed, scale)`` under ``out_dir``; returns
    ``out_dir``."""
    src = DATA / SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(src / f"{t}.parquet",
                            os.path.join(out_dir, f"{t}.parquet"))
    docs = _documents(np.random.default_rng([seed, 1]),
                      pq.read_table(src / "documents.parquet"))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def term_weights(texts: "list[str]") -> tuple[list[str], np.ndarray]:
    """The corpus vocabulary and each word's share of all tokens, so that
    queries sampled with these weights hit postings as often as the corpus
    holds them."""
    counts = collections.Counter(w for t in texts for w in t.split())
    words = sorted(counts)
    p = np.array([counts[w] for w in words], dtype=float)
    return words, p / p.sum()


def new_documents(seed: int, batch: int, n: int, first_id: int,
                  texts: "list[str]"):
    """Batch ``batch`` of ``n`` new documents for the churn workload, texts
    drawn with replacement from the corpus ``texts`` → ``(doc_ids, texts)``;
    ids start at ``first_id``."""
    rng = np.random.default_rng([seed, 7, batch])
    picked = rng.integers(len(texts), size=n)
    return (np.arange(first_id, first_id + n, dtype="int64"),
            [texts[i] for i in picked])
