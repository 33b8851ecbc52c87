"""Seeded input generation and result oracles for the benchmark.

Inputs are written under the benchmark's work directory, never into the
repository's tracked files:

- ``fixture_layout``: the committed sf0.1 fixture written with a seeded
  physical layout: rows permuted and, for tables of 100k rows or more,
  dealt into 4 equal files. The seed changes row order and file split,
  never the rows themselves, so size and distribution stay fixed.
- ``corpus``: whole text files of Zipf-distributed words. The seed changes
  the words drawn; vocabulary, file count and words per file stay fixed.

Oracles: DuckDB runs a key's ``SparkEntry.oracleSqlFor`` SQL over the same
tables (canonicalised like the repository's oracle gate), and the MapReduce
jobs are checked against a sequential word count and inverted index.
"""
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SPLIT_ROWS = 100_000
SPLIT_FILES = 4


def dir_mb(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


def _write_layout(table, dst, rng):
    t = table.take(pa.array(rng.permutation(table.num_rows)))
    if t.num_rows < SPLIT_ROWS:
        pq.write_table(t, dst)
        return
    os.makedirs(dst)
    bounds = np.linspace(0, t.num_rows, SPLIT_FILES + 1).astype(int)
    for i in range(SPLIT_FILES):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(dst, f"part-{i:05d}.parquet"))


def fixture_layout(out, seed):
    """Write the seeded layout of the fixture into ``out``; return
    {table: rows}."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    rows = {}
    for t in TABLES:
        tab = pq.read_table(f"{FIXTURE}/{t}.parquet")
        _write_layout(tab, os.path.join(out, f"{t}.parquet"), rng)
        rows[t] = tab.num_rows
    return rows


def logical_id():
    """Identity of the logical rows (not the layout) of the fixture input:
    the fixture bytes and this generator's source."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{FIXTURE}/{t}.parquet", "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- oracles

def canon(df):
    """Canonical rows of a result, as the repository's oracle gate forms
    them: columns by name, rows sorted, every cell rendered by ``str``."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    out = []
    for row in df.itertuples(index=False):
        out.append("\x01".join("NaN" if isinstance(v, float) and v != v else str(v)
                               for v in row))
    return out


def canon_hash(df):
    return hashlib.sha256("\n".join(canon(df)).encode()).hexdigest()


def duck(inputs, work):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


# ----------------------------------------------------------------- corpus

VOCAB = 40_000
ZIPF_S = 1.07
SEPARATORS = np.array([" "] * 12 + [", ", ". ", ".\n", "\n", "; ", " - "])


def _vocabulary():
    """Fixed vocabulary (seed-independent): distinct lower-case words of
    2 to 10 letters, rank 0 most frequent."""
    rng = np.random.default_rng(20260101)
    words, seen = [], set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < VOCAB:
        n = int(rng.integers(2, 11))
        w = "".join(rng.choice(letters, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def corpus(out, seed, files, words_per_file):
    """Write ``files`` text files of Zipf words; return the sequential
    oracle: SHA-256 of the sorted word-count lines ("word n") and of the
    sorted inverted-index lines ("word n_docs doc1,doc2,..")."""
    os.makedirs(out)
    vocab = _vocabulary()
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    rng = np.random.default_rng([seed, 7])
    counts = np.zeros(VOCAB, dtype=np.int64)
    docs_of = [[] for _ in range(VOCAB)]
    names = [f"doc-{i:04d}.txt" for i in range(files)]
    for name in names:
        ids = np.minimum(np.searchsorted(cdf, rng.random(words_per_file)), VOCAB - 1)
        seps = SEPARATORS[rng.integers(0, len(SEPARATORS), words_per_file)]
        text = "".join(np.char.add(vocab[ids].astype(str), seps).tolist())
        with open(os.path.join(out, name), "w") as f:
            f.write(text)
        counts += np.bincount(ids, minlength=VOCAB)
        for w in np.unique(ids):
            docs_of[w].append(name)
    wc = sorted(f"{vocab[w]} {counts[w]}" for w in np.nonzero(counts)[0])
    index = sorted(f"{vocab[w]} {len(docs_of[w])} {','.join(sorted(docs_of[w]))}"
                   for w in np.nonzero(counts)[0])
    digest = lambda lines: hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"wc": digest(wc), "index": digest(index), "words": int(counts.sum()),
            "distinct": len(wc)}


def reset_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    return path


def load_json(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path, obj):
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
