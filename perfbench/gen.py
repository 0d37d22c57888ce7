"""Seeded input generation for the warehouse benchmark.

Everything the program reads is made here from the run's seed:

* ``corpus(dir, seed)``: the ``documents`` and ``embeddings`` tables the
  pipeline ops read.  They follow the scheme of the project's sf0.1 test
  tables (row counts, columns, types, vocabulary, text lengths, share
  and form of near-duplicates, language mix, unclustered unit vectors
  with independent labels); only the random draws differ per seed.
* ``txn_batches(dir, seed, ...)``: the row batches the transactional
  workload inserts and merges.

Files are written with pyarrow, so the generator depends on no code of
the program under test.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _documents(rng, d):
    """Texts of 10 to 100 words drawn uniformly from a 30-word
    vocabulary.  Exactly 5% of the documents, at random positions, are
    replaced by a copy of another one with " dup" appended (the
    near-duplicates the dedup and similarity operators look for)."""
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
             for _ in range(d)]
    # in place, so a copy may be of an earlier copy ("... dup dup")
    for i in rng.choice(d, d // 20, replace=False):
        j = (int(i) + 1 + int(rng.integers(0, d - 1))) % d  # any document but i
        texts[i] = texts[j] + " dup"
    lang = np.asarray(["en", "zh", "es", "fr", "de"], dtype=object)[
        rng.choice(5, d, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(d)], type=pa.string()),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng, m, dim=64, labels=10):
    """Gaussian directions normalised to unit length, with labels drawn
    independently of the vectors (no cluster structure)."""
    lab = rng.integers(0, labels, m)
    v = rng.normal(size=(m, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, m * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))
    return pa.table({"vec_id": np.arange(m, dtype=np.int64),
                     "embedding": emb,
                     "label": lab.astype(np.int32)})


def corpus(out_dir, seed, docs=5000, vectors=2000):
    """Writes ``documents`` and ``embeddings`` (sf0.1 row counts by
    default) as ``<out_dir>/<table>.parquet/part-0.parquet``."""
    rng = np.random.default_rng([seed, 1])
    tables = {"documents": _documents(rng, docs), "embeddings": _embeddings(rng, vectors)}
    for name, table in tables.items():
        os.makedirs(os.path.join(out_dir, f"{name}.parquet"))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet", "part-0.parquet"),
                       compression="snappy")


TXN_SCHEMA = pa.schema([("k", pa.int64()), ("day", pa.int32()),
                        ("qty", pa.int32()), ("price", pa.int64()),
                        ("note", pa.string())])
TXN_DAYS = 4


def _txn_rows(rng, keys, tag):
    n = len(keys)
    return pa.table({
        "k": np.asarray(keys, dtype=np.int64),
        "day": rng.integers(0, TXN_DAYS, n).astype(np.int32),
        "qty": rng.integers(1, 51, n).astype(np.int32),
        "price": rng.integers(100, 1_000_000, n).astype(np.int64),
        "note": pa.array([f"{tag}{k}" for k in keys], type=pa.string())},
        schema=TXN_SCHEMA)


def txn_batches(out_dir, seed, base_rows, rounds, insert_rows, merge_rows):
    """Writes base.parquet, ins-<r>.parquet and mrg-<r>.parquet.  Keys
    are unique across inserts; half of each merge batch updates keys
    already inserted, half inserts new ones.  Returns the file paths."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = {"base": os.path.join(out_dir, "base.parquet")}
    pq.write_table(_txn_rows(rng, np.arange(base_rows), "b"), paths["base"])
    next_key = base_rows
    for r in range(rounds):
        ins = np.arange(next_key, next_key + insert_rows)
        next_key += insert_rows
        old = rng.choice(next_key, merge_rows // 2, replace=False)
        new = np.arange(next_key, next_key + merge_rows - len(old))
        next_key += len(new)
        paths[f"ins{r}"] = os.path.join(out_dir, f"ins-{r}.parquet")
        paths[f"mrg{r}"] = os.path.join(out_dir, f"mrg-{r}.parquet")
        pq.write_table(_txn_rows(rng, ins, f"i{r}-"), paths[f"ins{r}"])
        pq.write_table(_txn_rows(rng, np.sort(np.concatenate([old, new])),
                                 f"m{r}-"), paths[f"mrg{r}"])
    return paths


def checksum(root):
    """sha256 over every file under root (relative path and bytes)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
