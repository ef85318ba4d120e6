"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same files. Two input sets:

* ``write_tables`` — the star-schema corpus the catalog queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the column names, types and value grids of
  the engine's test corpus (2-dp money, 1-dp-free integer quantities,
  midnight dates, microsecond event times).
* ``write_corpus`` — the ingest loops' input: a seed corpus plus tick files
  of documents and of embedding vectors, with planted exact and near
  duplicates. The seed also fixes which items fall in the seed corpus and
  which tick each remaining item arrives in.

Planted near duplicates sit far above the dedup threshold (text Jaccard
≥ 0.85 over word bigrams, cosine ≥ 0.97) and unrelated items far below it,
so a checker computing in float64 and an engine computing in float32 can
never disagree about a pair.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data table row column key value join merge sort group agg "
         "window stream batch spark query scan filter line order customer "
         "part small big fast slow hash index shard cache plan stage task "
         "driver node disk memory shuffle spill commit").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64

# catalog corpus sizes (the engine test corpus at scale factor 0.01)
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)

# ingest loop make-up; TAU must equal perfbench.CorpusIngest.Tau
TAU = 0.8
SEED_DOCS, TICK_DOCS, TICKS = 300, 60, 2
SEED_VECS, TICK_VECS = 300, 60


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _dates(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_texts(rng, n, dup_share=0.03, near_share=0.06):
    """`n` documents: random vocabulary text, 30-80 words, with a share of
    verbatim copies and one-word-substituted copies of earlier documents."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < dup_share:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < dup_share + near_share:
            words = texts[rng.integers(0, i)].split(" ")
            j = int(rng.integers(1, len(words) - 1))
            choices = [w for w in VOCAB if w != words[j]]
            words[j] = choices[rng.integers(0, len(choices))]
            texts.append(" ".join(words))
        else:
            m = int(rng.integers(30, 81))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), m)))
    return texts


def make_vectors(rng, n, dup_share=0.03, near_share=0.06, clusters=10):
    """`n` unit-scale vectors around `clusters` centres (unrelated pairs sit
    near cosine 0.3), with exact copies and lightly jittered copies."""
    centres = rng.normal(0, 1, (clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n).astype(np.int32)
    vecs = np.zeros((n, DIM), dtype=np.float32)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < dup_share:
            j = rng.integers(0, i)
            vecs[i], labels[i] = vecs[j], labels[j]
        elif i > 10 and r < dup_share + near_share:
            j = rng.integers(0, i)
            v = vecs[j] + rng.normal(0, 0.02, DIM).astype(np.float32)
            vecs[i], labels[i] = v, labels[j]
        else:
            v = centres[labels[i]] + rng.normal(0, 1.5 / np.sqrt(DIM), DIM)
            vecs[i] = (v / np.linalg.norm(v)).astype(np.float32)
    return vecs, labels


def _vec_column(vecs):
    return pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32()))


def write_tables(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, cols: _write(pa.table(cols), f"{out_dir}/{name}.parquet")

    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = SIZES["customer"]
    w("customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "HOUSEHOLD", "BUILDING"], n)})

    n = SIZES["supplier"]
    w("supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})

    n = SIZES["part"]
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    w("part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})

    n = SIZES["orders"]
    w("orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(_dates(rng, n, "1995-01-01", "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})

    n = SIZES["lineitem"]
    w("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, SIZES["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(_dates(rng, n, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})

    n = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    w("events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(50, n // 66), n), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": np.round(rng.exponential(40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = SIZES["documents"]
    texts = make_texts(rng, n)
    w("documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n = SIZES["embeddings"]
    vecs, labels = make_vectors(rng, n)
    w("embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": _vec_column(vecs),
        "label": pa.array(labels, pa.int32())})


def write_corpus(out_dir: str, seed: int) -> None:
    """Seed corpus + `TICKS` tick files per loop. Items are generated in id
    order (copies point back to earlier ids), then the seed permutes which
    ids form the seed corpus and which tick each remaining id lands in."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    def split(n_seed, n_tick):
        order = rng.permutation(n_seed + n_tick * TICKS)
        return order[:n_seed], [np.sort(order[n_seed + t * n_tick:n_seed + (t + 1) * n_tick])
                                for t in range(TICKS)]

    def ticks_dir(name):
        d = f"{out_dir}/{name}"
        os.makedirs(d, exist_ok=True)
        return d

    texts = make_texts(rng, SEED_DOCS + TICK_DOCS * TICKS, dup_share=0.05, near_share=0.1)
    seed_ids, tick_ids = split(SEED_DOCS, TICK_DOCS)
    doc = lambda ids: pa.table({"doc_id": pa.array(np.sort(ids), pa.int64()),
                                "text": [texts[i] for i in np.sort(ids)]})
    _write(doc(seed_ids), f"{out_dir}/docs_seed.parquet")
    d = ticks_dir("docs_ticks")
    for t, ids in enumerate(tick_ids):
        _write(doc(ids), f"{d}/tick_{t:03d}.parquet")

    vecs, _ = make_vectors(rng, SEED_VECS + TICK_VECS * TICKS, dup_share=0.05, near_share=0.1)
    seed_ids, tick_ids = split(SEED_VECS, TICK_VECS)
    vec = lambda ids: pa.table({"vec_id": pa.array(np.sort(ids), pa.int64()),
                                "embedding": _vec_column(vecs[np.sort(ids)])})
    _write(vec(seed_ids), f"{out_dir}/vecs_seed.parquet")
    d = ticks_dir("vecs_ticks")
    for t, ids in enumerate(tick_ids):
        _write(vec(ids), f"{d}/tick_{t:03d}.parquet")

    # the file source orders a listing by modification time: make tick
    # order explicit instead of relying on write timing
    for name in ("docs_ticks", "vecs_ticks"):
        for t in range(TICKS):
            p = f"{out_dir}/{name}/tick_{t:03d}.parquet"
            os.utime(p, (1_700_000_000 + t, 1_700_000_000 + t))
