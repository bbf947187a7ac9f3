"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``sources.tables.TABLES``) as one
parquet file each, with the same column names, types and value domains as
the fixed test corpus: event types ``signup click error view purchase``,
``{"k": n}`` props, languages ``en zh de fr es``, sources ``src0``..``src19``
and 64-dimensional unit embeddings. The same seed and settings give
identical tables; the generator never reads or writes outside the
directory it is given.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EMBED_DIM = 64
N_LABELS = 10
ZIPF_S = 1.1                       # word-frequency exponent

# Letter pools for the vocabulary. Every character is a Unicode letter
# (category L*) so the JVM tokenizer ([^\p{L}]+) and the Python one
# ([^\W\d_]+) agree on every token boundary.
_ASCII = "abcdefghijklmnopqrstuvwxyz"
_POOLS = (
    (_ASCII, 0.70),
    (_ASCII + "àáâäçèéêëìíîïñòóôöùúûüßæø", 0.12),
    ("αβγδεζηθικλμνξοπρστυφχψω", 0.06),
    ("абвгдежзийклмнопрстуфхцчшщыэюя", 0.06),
    ("的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年", 0.06),
)
# separators between words: mostly spaces, some punctuation, digits and
# line breaks, all of which the tokenizers must drop
_SEPS = (" ", ", ", ". ", "\n", " 1984 ", "; ", " - ")
_SEP_P = (0.82, 0.05, 0.05, 0.03, 0.02, 0.02, 0.01)
BOILERPLATE = (
    "Subscribe to our newsletter for weekly updates and exclusive offers",
    "All rights reserved. Reproduction without permission is prohibited",
    "Click here to accept cookies and continue browsing this website",
)


@dataclasses.dataclass(frozen=True)
class Settings:
    """Per-workload input shape. Table sizes follow TPC-H's per-SF
    cardinalities (customer 150k, orders 1.5M, ...) where a table has
    one; the text, event and vector tables are sized directly."""
    sf: float = 0.001
    n_docs: int = 100
    doc_words: int = 60            # words per document, before planting
    vocab: int = 2000
    exact_dup_share: float = 0.0   # docs that copy another doc verbatim
    near_dup_share: float = 0.0    # docs that edit a family root lightly
    boilerplate_share: float = 0.0  # docs carrying a shared hot sentence
    n_events: int = 1000
    n_users: int = 100
    user_skew: float = 0.0         # Zipf exponent of user_id; 0 = uniform
    n_vectors: int = 200


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    pools = [p for p, _ in _POOLS]
    weights = np.array([w for _, w in _POOLS])
    cjk = len(pools) - 1                 # short words in the CJK pool
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = 2 * (n - len(words)) + 16
        kind = rng.choice(len(pools), size=m, p=weights / weights.sum())
        length = np.where(kind == cjk, rng.integers(1, 4, m),
                          rng.integers(2, 11, m))
        picks = rng.integers(0, 1 << 30, (m, 10))
        caps = rng.random(m) < 0.1
        for k, ln, row, cap in zip(kind, length, picks, caps):
            pool = pools[k]
            w = "".join(pool[j % len(pool)] for j in row[:ln])
            if cap:
                w = w.capitalize()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    # The hot ranks of a Zipf draw hold most of a corpus's bytes, so with
    # ranks in draw order the input size moved by 15% from seed to seed.
    # Sort by UTF-8 length, then deal the words out in one seed-independent
    # order: each rank gets about the same length under every seed.
    words.sort(key=lambda w: (len(w.encode()), w))
    return [words[i] for i in np.random.default_rng(0).permutation(n)]


def _documents(rng: np.random.Generator, s: Settings) -> pa.Table:
    vocab = np.array(_vocabulary(rng, s.vocab), dtype=object)
    p = _zipf_p(s.vocab, ZIPF_S)
    texts: list[str] = []
    for _ in range(s.n_docs):
        words = vocab[rng.choice(s.vocab, size=s.doc_words, p=p)]
        seps = rng.choice(len(_SEPS), size=s.doc_words, p=_SEP_P)
        texts.append("".join(w + _SEPS[k] for w, k in zip(words, seps))
                     .rstrip())
    n_exact = int(s.n_docs * s.exact_dup_share)
    n_near = int(s.n_docs * s.near_dup_share)
    # the first planted docs copy verbatim, the next ones edit a root;
    # roots are drawn from the unplanted tail, so families never chain
    roots = np.arange(n_exact + n_near, s.n_docs)
    for i in range(n_exact):
        texts[i] = texts[int(rng.choice(roots))]
    for i in range(n_exact, n_exact + n_near):
        toks = texts[int(rng.choice(roots))].split(" ")
        for j in rng.choice(len(toks), size=max(1, len(toks) // 20),
                            replace=False):
            toks[j] = str(vocab[rng.choice(s.vocab, p=p)])
        texts[i] = " ".join(toks)
    for i in rng.choice(s.n_docs, size=int(s.n_docs * s.boilerplate_share),
                        replace=False):
        texts[i] = texts[i] + ". " + BOILERPLATE[int(rng.integers(3))]
    langs = rng.choice(len(LANGS), size=s.n_docs, p=LANG_WEIGHTS)
    ids = np.arange(s.n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _money(rng: np.random.Generator, lo: float, hi: float, n: int
           ) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: dt.date, days: int, n: int
           ) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _tpch(rng: np.random.Generator, s: Settings) -> dict[str, pa.Table]:
    n_cust = max(10, int(150_000 * s.sf))
    n_supp = max(5, int(10_000 * s.sf))
    n_part = max(10, int(200_000 * s.sf))
    n_ord = max(20, int(1_500_000 * s.sf))
    i32 = pa.int32()
    region = pa.table({"r_regionkey": pa.array(range(5), i32),
                       "r_name": pa.array(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(
            [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)])})
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) * 0.1, 1)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{k}" for k in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[k] for k in
                            rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": price})
    ok = np.arange(n_ord, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array([("P", "O", "F")[k] for k in
                                   rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in
                                     rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    l_no = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_no, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_pk], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array([("R", "A", "N")[k] for k in
                                  rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("O", "F")[k] for k in
                                  rng.integers(0, 2, n_li)]),
        "l_shipdate": _dates(rng, dt.date(1995, 1, 2), 2499, n_li)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _events(rng: np.random.Generator, s: Settings) -> pa.Table:
    n = s.n_events
    # strictly increasing microsecond timestamps over 30 days: no ties,
    # so every order-by-ts query has one right answer
    span_us = 30 * 86_400 * 10**6
    gaps = rng.exponential(1.0, n)
    ts_us = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - n)).astype(
        np.int64) + np.arange(n)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    if s.user_skew > 0:
        users = rng.choice(s.n_users, size=n,
                           p=_zipf_p(s.n_users, s.user_skew))
        users = rng.permutation(s.n_users)[users]    # hot ids scattered
    else:
        users = rng.integers(0, s.n_users, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(base + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": users.astype(np.int64),
        "event_type": pa.array([EVENT_TYPES[k] for k in
                                rng.integers(0, 5, n)]),
        "value": np.maximum(0.01, np.round(rng.lognormal(3.5, 0.9, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in
                           rng.integers(0, 100, n)]),
    })


def _embeddings(rng: np.random.Generator, s: Settings) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, s.n_vectors)
    x = centers[labels] + rng.normal(scale=0.8, size=(s.n_vectors, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(s.n_vectors, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, s: Settings) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table draws from its own stream,
    so changing one table's settings leaves the others unchanged."""
    streams = np.random.SeedSequence(seed).spawn(4)
    tables = _tpch(np.random.default_rng(streams[0]), s)
    tables["events"] = _events(np.random.default_rng(streams[1]), s)
    tables["documents"] = _documents(np.random.default_rng(streams[2]), s)
    tables["embeddings"] = _embeddings(np.random.default_rng(streams[3]), s)
    return {t: tables[t] for t in TABLES}


def write_tables(out_dir: str, seed: int, s: Settings) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns each table's
    logical (uncompressed Arrow) size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in make_tables(seed, s).items():
        # one row group per file, like the fixed test corpus
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        sizes[name] = table.nbytes
    return sizes
