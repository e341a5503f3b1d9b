"""Seeded inputs for the three workloads.

Everything here is plain numpy/pandas/pyarrow: the inputs exist before
the engine sees them, and the same ``seed`` always yields byte-identical
files. The program under test only ever receives these generated
inputs (or, for ``cooling``, the seed passed to its own generator).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1-shaped document corpus: a 30-word vocabulary, 10..100 words
# per document, five languages with English the plurality.
VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast row the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_DOCS = 5000
FAMILIES = 400
# near-duplicate family shapes, as the parent index of each copy within
# its family: a chain of 8 (diameter 8), a star of 4, a binary tree of
# 6, a single pair
FAMILY_SHAPES = (
    (0, 1, 2, 3, 4, 5, 6, 7),
    (0, 0, 0, 0),
    (0, 0, 1, 1, 2, 2),
    (0,),
)
EMB_ROWS = 2000
EMB_DIM = 64
EMB_LABELS = 10

ORDERS_ROWS = 50_000
ORDER_STATUS = ("O", "F", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _rng(seed: int, stream: int) -> np.random.Generator:
    # independent streams per input family: adding a document never
    # shifts the embeddings drawn for the same seed
    return np.random.default_rng([seed, stream])


def documents(seed: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """``documents`` rows (doc_id, text, lang, source, n_chars) and the
    ground-truth near-duplicate pairs among them.

    ``FAMILIES`` seeded base documents each grow a family of edited
    copies; a copy edits one word of its parent. Family ``i`` takes the
    shape ``FAMILY_SHAPES[i % 4]`` (a chain, a star, a binary tree, a
    pair), so every seed yields the same pair-graph structure and the
    iterative graph operators do the same number of rounds; the seed
    picks the texts and which documents are duplicated. The pairs
    (parent, copy) are what an exact dedup stage would report."""
    rng = _rng(seed, 1)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    langs = list(rng.choice(LANGS, N_DOCS, p=LANG_P))
    sources = [f"src{i % 20}" for i in range(N_DOCS)]
    pairs = []
    for i, base in enumerate(rng.choice(N_DOCS, FAMILIES, replace=False)):
        family = [int(base)]
        for parent_at in FAMILY_SHAPES[i % len(FAMILY_SHAPES)]:
            parent = family[parent_at]
            words = texts[parent].split()
            words[int(rng.integers(0, len(words)))] = str(
                vocab[rng.integers(0, len(vocab))]
            )
            child = len(texts)
            texts.append(" ".join(words))
            langs.append(langs[parent])
            sources.append(sources[parent])
            family.append(child)
            pairs.append((parent, child))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return docs, pairs


def embeddings(seed: int) -> pd.DataFrame:
    """``embeddings`` rows (vec_id, embedding float[64], label): ten
    Gaussian clusters, so IVF probing has structure to exploit."""
    rng = _rng(seed, 2)
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, EMB_ROWS)
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (EMB_ROWS, EMB_DIM))) * 0.1
    return pd.DataFrame(
        {
            "vec_id": np.arange(EMB_ROWS, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )


def queries(seed: int, emb: pd.DataFrame, n: int) -> np.ndarray:
    """``n`` query vectors near seeded corpus points (float64)."""
    rng = _rng(seed, 3)
    base = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    picks = rng.integers(0, len(base), n)
    return base[picks] + rng.normal(0.0, 0.03, (n, base.shape[1]))


def orders(seed: int) -> pd.DataFrame:
    """``orders`` with sf0.1 columns and 50,000 rows, keys 0..49,999."""
    rng = _rng(seed, 4)
    n = ORDERS_ROWS
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(1, 15_001, n).astype(np.int64),
            "o_orderstatus": rng.choice(ORDER_STATUS, n),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
            "o_orderpriority": rng.choice(ORDER_PRIORITY, n),
        }
    )


def changelog(seed: int, rows_per_file: int, n_keys: int = ORDERS_ROWS):
    """Endless CDC changelog batches over scattered ``orders`` keys:
    ~70% updates of existing keys, ~15% deletes, ~15% inserts of fresh
    keys. Keys repeat within and across batches; ``seq`` is globally
    increasing, so "last change per key wins" is well defined."""
    rng = _rng(seed, 5)
    seq = 0
    next_key = n_keys
    while True:
        kind = rng.random(rows_per_file)
        keys = rng.integers(0, n_keys, rows_per_file).astype(np.int64)
        fresh = kind >= 0.85
        keys[fresh] = np.arange(next_key, next_key + fresh.sum())
        next_key += int(fresh.sum())
        # ~5% of the batch re-touches a key already changed in it
        again = rng.random(rows_per_file) < 0.05
        keys[again] = keys[rng.integers(0, rows_per_file, again.sum())]
        op = np.where(kind < 0.70, "U", np.where(kind < 0.85, "D", "I"))
        yield pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(1, 15_001, rows_per_file).astype(np.int64),
                "o_orderstatus": rng.choice(ORDER_STATUS, rows_per_file),
                "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, rows_per_file), 2),
                "o_orderpriority": rng.choice(ORDER_PRIORITY, rows_per_file),
                "seq": np.arange(seq, seq + rows_per_file, dtype=np.int64),
                "op": op,
            }
        )
        seq += rows_per_file


def raw_bytes(df: pd.DataFrame) -> int:
    """User-input size: 8 bytes per numeric value, 4 per int32, UTF-8
    length per string, 4 per float32 array element. The base of every
    ``write_amp`` ratio."""
    total = 0
    for name in df.columns:
        col = df[name]
        if col.dtype == object:
            first = col.iloc[0] if len(col) else ""
            if isinstance(first, str):
                total += int(col.str.encode("utf-8").str.len().sum())
            else:  # float32 vectors
                total += int(sum(len(v) for v in col)) * 4
        else:
            total += int(col.dtype.itemsize) * len(col)
    return total


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
