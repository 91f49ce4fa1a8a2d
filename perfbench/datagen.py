"""Seeded inputs for the benchmark.

Two kinds of input, both pure functions of a seed:

- ``write_tables``: the ten engine tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) with the schemas and value
  distributions of the engine's sf0.01 test corpus. The benchmark writes
  them once per checkout from a fixed seed, so every run and every commit
  reads the same bytes.
- ``make_corpus``: whole text files for the ``map_reduce()`` jobs. Word
  frequencies follow a Zipf law, so a few keys are hot. This one takes
  the run's ``--seed``.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42
TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# Row counts of the sf0.01 test corpus.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
DOC_WORDS = (
    "a the data spark table column row key value query join filter group "
    "sort order hash merge scan batch stream window vector agg part line "
    "customer big small fast slow"
).split()
DUP_SHARE = 0.05
EMBED_DIM = 64

# Synthetic corpus for the map_reduce() jobs.
CORPUS_FILES = 64
CORPUS_WORDS_PER_FILE = 1_500
CORPUS_VOCAB = 2_000
CORPUS_ZIPF_S = 1.1
CORPUS_WORDS_PER_LINE = 12


def _ts(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    hi = np.datetime64(end, "D").astype("datetime64[us]").astype(np.int64)
    days = rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n)
    return pa.array(lo + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = TABLES_SEED) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables; same seed, same values."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["customer"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n)],
    })
    n = ROWS["part"]
    adjs = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    keys = np.arange(n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [types[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })
    n = ROWS["orders"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n)],
    })
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n),
    })
    n = ROWS["events"]
    etypes = ["click", "error", "purchase", "signup", "view"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = ROWS["documents"]
    texts = [
        " ".join(DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS), k))
        for k in rng.integers(10, 100, n)
    ]
    # Planted near-duplicates: a copy of another document plus one token.
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"])
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def source_digest() -> str:
    """Digest of this generator's source: the table directory is named
    after it, so a changed generator never reads tables an older one wrote."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def write_tables(dest: str, seed: int = TABLES_SEED) -> None:
    """Write ``<dest>/<table>.parquet`` for every table unless a complete
    set is already there. Writes into a sibling directory first and
    renames it, so an interrupted write never leaves a partial set."""
    if os.path.isfile(os.path.join(dest, "_COMPLETE")):
        return
    tmp = f"{dest}.partial.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(str(seed))
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.rename(tmp, dest)


def _spell(n: int, letters: str) -> str:
    """n in bijective base len(letters): a distinct word per n."""
    out = ""
    n += 1
    while n:
        n, r = divmod(n - 1, len(letters))
        out = letters[r] + out
    return out


def make_corpus(seed: int) -> list[tuple[str, str]]:
    """``CORPUS_FILES`` whole files as (name, contents). Words are drawn
    from a Zipf(``CORPUS_ZIPF_S``) law over ``CORPUS_VOCAB`` ranks, cut
    into lines of ``CORPUS_WORDS_PER_LINE`` words."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, CORPUS_VOCAB + 1)
    p = ranks ** -CORPUS_ZIPF_S
    p /= p.sum()
    # Spellings are seeded too, so under another seed the same rank is
    # another word and the keys land in other shuffle partitions. The
    # rank, spelled in letters, keeps every word distinct.
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choice(list(letters), 3)) + _spell(r, letters)
        for r in range(CORPUS_VOCAB)
    ]
    files = []
    for i in range(CORPUS_FILES):
        words = rng.choice(CORPUS_VOCAB, CORPUS_WORDS_PER_FILE, p=p)
        lines = [
            " ".join(vocab[w] for w in words[j:j + CORPUS_WORDS_PER_LINE])
            for j in range(0, len(words), CORPUS_WORDS_PER_LINE)
        ]
        files.append((f"pg-{seed % 100_000:05d}-{i:03d}.txt", "\n".join(lines)))
    return files


def corpus_digest(files: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for name, contents in files:
        h.update(name.encode() + b"\0" + contents.encode() + b"\0")
    return h.hexdigest()
