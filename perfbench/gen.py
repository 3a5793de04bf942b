"""Seeded input generator for the graft benchmark.

Writes the same table set and schemas as the repo's test data
(TPC-H-like star schema, an `events` change table, a `documents` corpus
and `embeddings`), one parquet file per table, from a seed and a scale
factor. Row counts follow the test-data scaling (lineitem = 6M x sf,
events = 1M x sf, ...); every value is drawn from numpy's PCG64 stream
for the seed, so the same (seed, sf) always gives byte-identical files.

The corpus replica (`documents`, `embeddings`) follows ScaleUp's perturb
semantics: copy 0 is the base corpus; copy i > 0 shifts ids by i * 1e8,
suffixes every token with a copy- and seed-derived tag, and rotates the
embedding dimensions by i. Near-duplicates planted inside a copy stay
near-duplicates; copies never near-duplicate each other.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a the big small fast slow data query table row column key value "
         "join hash sort merge scan filter group agg order window stream "
         "batch spark vector line part customer").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
COPY_SHIFT = 100_000_000
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # 5% of the corpus are exact copies of another doc plus a marker
    # token: the planted near-duplicates the dedup operators find
    dups = rng.choice(n, max(1, n // 20), replace=False)
    dup_set = set(int(d) for d in dups)
    bases = [b for b in range(n) if b not in dup_set]
    for d in dups:
        texts[int(d)] = texts[bases[int(rng.integers(0, len(bases)))]] + " dup"
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return texts, [LANGS[i] for i in lang]


def corpus_tag(seed):
    """Seed-derived token suffix of the perturbed corpus copies."""
    return hashlib.sha256(f"graft-corpus-{seed}".encode()).hexdigest()[:4]


def write_corpus(out, rng, n_docs, n_vecs, copies, seed):
    texts, langs = _documents(rng, n_docs)
    emb = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    tag = corpus_tag(seed)
    d_id, d_text, d_lang, d_src = [], [], [], []
    v_id, v_emb, v_lab = [], [], []
    for i in range(copies):
        sfx = "" if i == 0 else f"v{i}{tag}"
        for j, t in enumerate(texts):
            d_id.append(i * COPY_SHIFT + j)
            d_text.append(t if i == 0 else " ".join(w + sfx for w in t.split(" ")))
            d_lang.append(langs[j])
            d_src.append(f"src{j % 20}")
        rot = np.roll(emb, -i, axis=1)
        v_id.extend(i * COPY_SHIFT + np.arange(n_vecs))
        v_emb.extend(list(r) for r in rot)
        v_lab.extend(labels)
    _write(out, "documents", {
        "doc_id": pa.array(d_id, pa.int64()),
        "text": pa.array(d_text, pa.string()),
        "lang": pa.array(d_lang, pa.string()),
        "source": pa.array(d_src, pa.string()),
        "n_chars": pa.array([len(t) for t in d_text], pa.int64())})
    _write(out, "embeddings", {
        "vec_id": pa.array(v_id, pa.int64()),
        "embedding": pa.array(v_emb, pa.list_(pa.float32())),
        "label": pa.array(v_lab, pa.int32())})


def generate(out, seed, sf, copies=1, corpus_sf=None):
    """Write every table for (seed, sf) into `out`. The corpus tables
    (`documents`, `embeddings`) are sized by `corpus_sf` (default `sf`)
    and replicated `copies` times with ScaleUp's perturb semantics."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    csf = sf if corpus_sf is None else corpus_sf
    n_docs = max(500, int(50_000 * csf))
    n_vecs = max(500, int(20_000 * csf))

    cols = {}
    cols["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                      "r_name": pa.array(REGIONS, pa.string())}
    cols["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                      "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                      "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    cols["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])}
    cols["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    cols["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))}
    cols["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])}
    cols["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, max(1, n_ord), n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * US_PER_DAY)}
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    cols["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}
    for name, c in cols.items():
        _write(out, name, c)
    corpus_rng = np.random.default_rng([seed, int(round(csf * 1e6)), 7])
    write_corpus(out, corpus_rng, n_docs, n_vecs, copies, seed)


def checksum(out):
    """sha256 over every parquet file in `out`, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
