"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table with the column names and types of the
repo's testdata layout (``dask_groupby_spark.sources.TABLES``), so every
``__spark_entry__.queries()`` key and its ``oracle_sql()`` twin run on it
unchanged.  The seed drives every value; the same seed and row counts give
byte-identical tables.  The package under test only ever sees the files.

Distributions follow the testdata's TPC-H-ish tables (uniform keys and flags,
exponential event values with mean 50, unit-norm 64-d embeddings) with two
deliberate differences that make the pipeline operators do real work:
documents are drawn from a 2000-word Zipf vocabulary mixed with per-language
function words (so ``language_id`` has signal) and 5% of them are edited
copies of an earlier document (so MinHash/LSH find true near-duplicates);
3% of the embeddings are jittered copies of an earlier vector (so
``semantic_deduplicate`` removes something).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any table's content changes, so cached data and reference
# answers built by an older generator are never reused
VERSION = 1

_EPOCH = dt.datetime(1970, 1, 1)

FUNCTION_WORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "zu", "ist", "mit"),
    "es": ("el", "la", "de", "y", "que", "en", "los"),
    "fr": ("le", "la", "de", "et", "un", "les", "est"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}
LANG_P = {"en": 0.6, "de": 0.1, "es": 0.1, "fr": 0.1, "zh": 0.1}

_ONSETS = ("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
_NUCLEI = ("a", "e", "i", "o", "u")


def _vocabulary(n: int = 2000) -> list[str]:
    """Fixed pseudo-words (independent of the seed): CV-CV(-CV) syllables."""
    rng = np.random.default_rng(20240101)
    words: list[str] = []
    seen = set()
    while len(words) < n:
        k = 2 + int(rng.integers(0, 2))
        w = "".join(_ONSETS[rng.integers(len(_ONSETS))] + _NUCLEI[rng.integers(5)] for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _days(start: dt.datetime, rng, n: int, span_days: int) -> pa.Array:
    micros = int((start - _EPOCH).total_seconds()) * 1_000_000
    day = rng.integers(0, span_days, n).astype(np.int64) * 86_400_000_000
    return pa.array(micros + day, pa.timestamp("us"))


def _choice(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def lineitem(rng, n: int, n_orders: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(n // 3, 1), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _choice(rng, ("A", "N", "R"), n),
            "l_linestatus": _choice(rng, ("F", "O"), n),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), rng, n, 2499),
        }
    )


def orders(rng, n: int) -> pa.Table:
    prios = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n), pa.int64()),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000.0, 500_000.0, n), 2)),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), rng, n, 2400),
            "o_orderpriority": _choice(rng, prios, n),
        }
    )


def events(rng, n: int) -> pa.Table:
    start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n // 66, 10), n), pa.int64()),
            "event_type": _choice(rng, ("click", "error", "purchase", "signup", "view"), n),
            "value": pa.array(value),
            "props": pa.array(props, pa.string()),
        }
    )


def documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(_vocabulary(), dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    langs = list(LANG_P)
    texts: list[str] = []
    doc_langs: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document with one word replaced
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.choice(len(vocab), p=zipf)])
            texts.append(" ".join(words))
            doc_langs.append(doc_langs[j])
            continue
        lang = langs[rng.choice(len(langs), p=list(LANG_P.values()))]
        length = int(rng.integers(10, 100))
        content = vocab[rng.choice(len(vocab), length, p=zipf)]
        fw = FUNCTION_WORDS[lang]
        is_fw = rng.random(length) < 0.12
        words = [fw[rng.integers(len(fw))] if f else w for w, f in zip(content, is_fw)]
        texts.append(" ".join(words))
        doc_langs.append(lang)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(doc_langs, pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vec = 0.2 * centers[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    dup = np.flatnonzero(rng.random(n) < 0.03)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[src] + rng.normal(0.0, 0.01 / np.sqrt(dim), (len(dup), dim))
    label[dup] = label[src]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        }
    )


def make_tables(seed: int, rows: dict[str, int]) -> dict[str, pa.Table]:
    """Build the requested tables (name -> row count) from ``seed``.

    Each table draws from its own child stream of the seed, so adding a
    table to a workload leaves the others unchanged."""
    streams = dict(zip(sorted(rows), np.random.SeedSequence(seed).spawn(len(rows))))
    out = {}
    for name, n in rows.items():
        rng = np.random.default_rng(streams[name])
        if name == "lineitem":
            out[name] = lineitem(rng, n, rows.get("orders", max(n // 4, 1)))
        elif name == "orders":
            out[name] = orders(rng, n)
        elif name == "events":
            out[name] = events(rng, n)
        elif name == "documents":
            out[name] = documents(rng, n)
        elif name == "embeddings":
            out[name] = embeddings(rng, n)
        else:
            raise ValueError(f"no generator for table {name!r}")
    return out


def ensure_dataset(root: str, seed: int, rows: dict[str, int]) -> str:
    """Return the directory holding the tables for (seed, rows), generating
    it on first use.  Written to a temporary name and renamed, so an
    interrupted run never leaves a half-written dataset behind."""
    tag = "-".join(f"{t}{rows[t]}" for t in sorted(rows))
    path = os.path.join(root, f"v{VERSION}-{tag}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(seed, rows).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    return path
