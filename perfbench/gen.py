"""Seeded input generators for the perfbench workloads.

Every generator takes an output directory and a seed; the same seed
writes byte-identical inputs. The engine only ever sees these files.

- warehouse: the eight relational tables of the sf0.1 fixture shape
  (TPC-H-like star schema plus an `events` stream), one parquet each.
- arrival:   a sequence of CSV document chunks (accented, spaced headers
  that `SchemaConform` must normalise) with one parquet of 64-d unit
  embeddings per chunk; later chunks carry near-duplicates of earlier
  ones. Plus held-out query vectors.

Near-duplicate families follow tools/make_sf3_dedup.py: a mate is its
base document with each token suffix-mutated with probability 0.02
(Jaccard ~0.89) and its base vector plus small noise (cosine ~0.99).
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "es", "fr", "de", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64
LABELS = 10


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us")


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse(out: str, seed: int) -> None:
    """sf0.1-shaped relational tables: the row counts, value domains and
    independent uniform draws of the sf0.1 fixture the oracle SQL was
    written against. `fixture_match.py` measures the match."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        f"{out}/nation.parquet")
    nc, ns, npart, no, nl, ne = 15000, 1000, 20000, 150000, 600000, 100000
    _write(pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)}),
        f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)}),
        f"{out}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "old", "small", "red", "cold", "new"])
    noun = np.array(["ring", "bolt", "plate", "anvil", "widget", "gear",
                     "nut", "pipe"])
    _write(pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, npart), " "),
                              rng.choice(noun, npart)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)}),
        f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{out}/orders.parquet")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")}),
        f"{out}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{out}/events.parquet")
    # Lake.registerAll (q51, q86) registers every fixture table
    docs, emb = _corpus_rows(rng, 5000, 0)
    _write(docs, f"{out}/documents.parquet")
    _write(emb.iloc[:2000].rename(columns={"doc_id": "vec_id"}),
           f"{out}/embeddings.parquet")


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    vocab = np.array(VOCAB)
    out, i = [], 0
    for k, ln in enumerate(lens):
        toks = list(vocab[words[i:i + ln]])
        i += ln
        if k % 23 == 0:  # a little PII for the redaction stage
            toks.insert(ln // 2, f"user{k}@mail.example.com")
        out.append(" ".join(toks))
    return out


def _mutate(rng, text, p):
    toks = text.split(" ")
    hit = rng.random(len(toks)) < p
    tags = rng.integers(0, 1000, len(toks))
    return " ".join(t + f"q{g}" if h else t for t, h, g in zip(toks, hit, tags))


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _corpus_rows(rng, n, first_id):
    """n documents with ids first_id.. and their embeddings: ~25% are
    near-dup mates and ~3% exact copies of an earlier document."""
    base_text = _texts(rng, n)
    # loose clusters: same-label docs stay well apart (squared distance
    # ~1.7 between unit vectors), mates sit at ~0.03
    centroids = rng.normal(0, 1 / 8, (LABELS, DIM))
    labels = rng.integers(0, LABELS, n)
    vecs = _unit(0.4 * centroids[labels] + rng.normal(0, 1, (n, DIM)) / 8)
    kind = rng.random(n)
    src = (rng.random(n) * np.arange(n)).astype(np.int64)  # an earlier doc
    text = list(base_text)
    for i in range(1, n):
        if kind[i] < 0.25:
            text[i] = _mutate(rng, text[src[i]], 0.02)
            vecs[i] = _unit(vecs[src[i]][None, :]
                            + rng.normal(0, 0.02, (1, DIM)))[0]
            labels[i] = labels[src[i]]
        elif kind[i] < 0.28:
            text[i] = text[src[i]]
            vecs[i] = vecs[src[i]]
            labels[i] = labels[src[i]]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    docs = pd.DataFrame({
        "doc_id": ids,
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids]})
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    emb = pd.DataFrame({"doc_id": ids, "embedding": list(vecs),
                        "label": labels.astype(np.int32)})
    return docs, emb


def arrival(out: str, seed: int, n_batches: int, batch_docs: int,
            n_queries: int) -> None:
    """Chunk i holds documents i*batch_docs.. ; a near-dup may point at a
    document of any earlier chunk, so later chunks dedup against state.
    queries.parquet holds held-out query vectors: perturbed copies of
    document vectors, so every query has near neighbours."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n = n_batches * batch_docs
    docs, emb = _corpus_rows(rng, n, 0)
    pick = rng.integers(0, n, n_queries)
    q = _unit(np.stack(emb["embedding"].to_numpy())[pick]
              + rng.normal(0, 0.05, (n_queries, DIM)))
    _write(pd.DataFrame({"query_id": np.arange(n_queries, dtype=np.int64),
                         "embedding": list(q)}), f"{out}/queries.parquet")
    day0 = np.datetime64("2024-03-01", "D")
    with open(f"{out}/rows.txt", "w") as f:
        f.writelines(f"{b} {batch_docs}\n" for b in range(n_batches))
    for b in range(n_batches):
        sl = slice(b * batch_docs, (b + 1) * batch_docs)
        chunk = docs.iloc[sl]
        pd.DataFrame({
            "Doc ID": chunk["doc_id"],
            "Língua": chunk["lang"],
            "Fonte de Dados": chunk["source"],
            "Texto": chunk["text"],
            "Data Chegada": str(day0 + b),
        }).to_csv(f"{out}/chunk_{b:04d}.csv", index=False)
        _write(emb.iloc[sl][["doc_id", "embedding"]],
               f"{out}/emb_{b:04d}.parquet")

