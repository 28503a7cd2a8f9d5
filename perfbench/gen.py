"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed, with
numpy only, and written under the run's own directory:

* ``tables(dest, seed)`` writes the ten parquet tables the query registry
  reads at ``SCALE``, with the schemas and value distributions of the sf0.1 corpus
  (uniform keys, 30-word documents with 5% near-duplicates, unit-norm
  64-d embeddings).  Each table is one row group, as in that corpus.
* ``corpus(dest, seed)`` writes a Zipf-distributed text corpus of about
  ``CORPUS_MB`` MB in ``CORPUS_FILES`` files per input
  directory for ``MapReduceJob`` (plain lines for word count, and
  ``doc_id<TAB>text`` lines for the inverted index) and returns the exact
  outputs a correct job must produce.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 0.1 = the sf0.1 shape: 600k lineitems
SCALE = 0.1
# the MapReduce corpus: ~1 MB of text over more files than a 4-core
# host runs mappers, drawn from a Zipf law over VOCAB distinct words
CORPUS_MB = 1.0
CORPUS_FILES = 12
VOCAB = 20_000
ZIPF_S = 1.1

_EPOCH = np.datetime64("1970-01-01", "D")
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(int)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.choice(len(values), n, p=p).astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _write(dest: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(dest, f"{name}.parquet"), row_group_size=table.num_rows)


def tables(dest: str, seed: int) -> None:
    """Write the registry's ten tables at ``SCALE``."""
    scale = SCALE
    rng = np.random.default_rng([seed, 1])
    os.makedirs(dest, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_evt, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)

    _write(dest, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(dest, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    _write(dest, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(dest, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    pk = np.arange(n_part)
    _write(dest, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(dest, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(dest, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_evt))
    _write(dest, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, int(15_000 * scale), n_evt), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    lengths = rng.integers(10, 101, n_doc)
    flat = rng.integers(0, len(_WORDS), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(_WORDS[w] for w in ws) for ws in np.split(flat, cuts)]
    # 5% near-duplicates: a copy of another document with one extra token
    for d in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(dest, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(dest, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64), pa.int32()), pa.array(vecs.ravel())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })


def zipf_words(rng: np.random.Generator, vocab: int, n: int) -> np.ndarray:
    """``n`` word ranks drawn from a Zipf(``ZIPF_S``) law over ``vocab`` ranks,
    by a cumulative-weights lookup (vectorized; no per-draw Python)."""
    cum = np.cumsum(1.0 / np.arange(1, vocab + 1) ** ZIPF_S)
    return np.searchsorted(cum, rng.random(n) * cum[-1], side="right")


def _vocabulary(rng: np.random.Generator, vocab: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: dict[str, None] = {}
    while len(seen) < vocab:
        lens = rng.integers(2, 10, vocab)
        for w in ("".join(c) for c in np.split(rng.choice(letters, lens.sum()), np.cumsum(lens)[:-1])):
            seen.setdefault(w)
    return list(seen)[:vocab]


def corpus(dest: str, seed: int) -> dict:
    """Write ``dest/wc`` (text lines) and ``dest/index`` (``doc_id<TAB>text``
    lines), ``CORPUS_FILES`` files each, about ``CORPUS_MB`` MB of text.

    Returns ``{"wc": {word: count}, "index": {word: "df<TAB>ids"}}``: the
    value column every correct job writes for each key."""
    vocab, files = VOCAB, CORPUS_FILES
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(rng, vocab)
    n_tokens = int(CORPUS_MB * 1e6 / 6.5)  # ~5.5 letters + 1 separator per token
    ranks = zipf_words(rng, vocab, n_tokens)
    lengths = rng.integers(5, 40, n_tokens // 5)
    lengths = lengths[: np.searchsorted(np.cumsum(lengths), n_tokens)]
    n_docs, used = len(lengths), int(lengths.sum())
    ranks = ranks[:used]
    doc_of = np.repeat(np.arange(n_docs), lengths)
    lines = [" ".join(words[r] for r in rs) for rs in np.split(ranks, np.cumsum(lengths)[:-1])]

    counts = np.bincount(ranks, minlength=vocab)
    wc = {words[r]: str(c) for r, c in enumerate(counts.tolist()) if c}
    pairs = np.unique(ranks.astype(np.int64) * n_docs + doc_of)
    p_rank, p_doc = pairs // n_docs, pairs % n_docs
    bounds = np.flatnonzero(np.diff(p_rank)) + 1
    index = {
        words[int(rs[0])]: f"{len(ds)}\t{','.join(map(str, ds.tolist()))}"
        for rs, ds in zip(np.split(p_rank, bounds), np.split(p_doc, bounds))
    }

    for kind, render in (("wc", lambda d: lines[d]), ("index", lambda d: f"{d}\t{lines[d]}")):
        os.makedirs(os.path.join(dest, kind), exist_ok=True)
        for f in range(files):
            with open(os.path.join(dest, kind, f"file{f:02d}"), "w", encoding="utf-8") as fh:
                fh.writelines(render(d) + "\n" for d in range(f, n_docs, files))
    return {"wc": wc, "index": index}

