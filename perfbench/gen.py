"""Seeded input tables for the benchmark workloads.

Every table is built from a fixed base population and then varied by
the seed the way the library's scale generator varies its replicas
(``graft.tools.Scale10GenAll``): embedding replicas get an orthogonal
transform (a rotation of the dimensions and a sign flip per dimension),
document tokens get a salt prefix, and money columns get seeded cents.
These transforms keep norms, dot products, token-set overlap, keys and
row order, so the jobs do the same amount of work for every seed and
the timings of different seeds are comparable, while the bytes and the
results differ. (A seeded row order was tried and dropped: it moved
single jobs by a quarter from seed to seed.)

The schemas and value domains follow the repository's test fixtures
(FIXTURES.md). Nothing outside the output directory is read.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101  # the base population never depends on --seed
DIM = 64
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.39, 0.16, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = "blue cold hot large small red green dark light tiny bright".split()
NOUN = "anvil bolt ring widget gear spring valve cable".split()
DAY_US = 86_400_000_000
US_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00
REPLICA_ID_STEP = 1_000_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, sf):
    """The TPC-H-like star schema at scale factor ``sf``."""
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 50), max(int(1_500_000 * sf), 100)
    t = {"nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                             "n_name": [f"NATION_{i}" for i in range(25)],
                             "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})}
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = US_1995 + rng.integers(0, 2404, n_ord) * DAY_US  # up to 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(US_1995 + DAY_US + rng.integers(0, 2498, n_li) * DAY_US,
                               pa.timestamp("us"))})
    return t


def documents(rng, n, dup_frac):
    """Bag-of-words documents over a small vocabulary; ``dup_frac`` of
    them are near copies of an earlier document (one or two tokens
    replaced), so the dedup jobs have true pairs to find."""
    toks = []
    for i in range(n):
        if i > 0 and rng.random() < dup_frac:
            d = list(toks[rng.integers(0, i)])
            for _ in range(rng.integers(1, 3)):
                d[rng.integers(0, len(d))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            d = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        toks.append(d)
    return {"doc_id": np.arange(n, dtype=np.int64), "toks": toks,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)]}


def documents_table(docs, salt):
    text = [" ".join(salt + w for w in d) for d in docs["toks"]]
    return pa.table({"doc_id": docs["doc_id"], "text": text, "lang": docs["lang"],
                     "source": docs["source"],
                     "n_chars": np.array([len(x) for x in text], dtype=np.int64)})


def base_vectors(rng, n):
    """Unit vectors around ten class centroids; the label is the class."""
    cents = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    v = cents[label] * 0.35 + rng.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label.astype(np.int32)


def embeddings_table(vecs, labels, replicas, seed):
    """``replicas`` orthogonally transformed copies of the base vectors:
    replica k keeps the base ids offset by k * 10^9, its dimensions are
    rotated and sign-flipped by a pattern drawn from (seed, k)."""
    ids, embs, labs = [], [], []
    n = len(vecs)
    for k in range(replicas):
        r = np.random.default_rng([seed, k, 1])
        rot = int(r.integers(0, DIM))
        signs = np.where(r.random(DIM) < 0.5, -1.0, 1.0).astype(np.float32)
        embs.append(np.roll(vecs, -rot, axis=1) * signs)
        ids.append(np.arange(n, dtype=np.int64) + k * REPLICA_ID_STEP)
        labs.append(labels)
    emb = np.concatenate(embs)
    flat = pa.array(emb.reshape(-1), pa.float32())
    return pa.table({"vec_id": np.concatenate(ids),
                     "embedding": pa.ListArray.from_arrays(
                         pa.array(np.arange(0, len(flat) + 1, DIM, dtype=np.int32)), flat),
                     "label": np.concatenate(labs)})


MONEY = {"c_acctbal", "s_acctbal", "o_totalprice", "l_extendedprice"}


def reprice(table, rng):
    """Draws the cents of every money column from the seed. Keys, dates,
    quantities and row order stay as in the base, so the seed changes
    every aggregate without changing which rows meet which."""
    for i, name in enumerate(table.column_names):
        if name in MONEY:
            x = table.column(i).to_numpy()
            cents = rng.integers(0, 100, len(x)) / 100.0
            table = table.set_column(i, name, pa.array(np.round(np.floor(x) + cents, 2)))
    return table


def write(table, path, files):
    """One parquet file, or ``files`` part files under ``<t>.parquet/``."""
    if files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


TPCH = {"nation", "customer", "supplier", "part", "orders", "lineitem"}
REGION = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})


def build(spec, seed, out):
    """Writes the workload's tables for ``seed`` into ``out``. Each
    table family draws from its own base stream, so a workload that
    leaves one out gets the same values for the rest."""
    need = set(spec["tables"]) | {"region"}  # the warm-up reads region
    tables = {"region": REGION}
    if need & TPCH:
        tables.update(tpch(np.random.default_rng([BASE_SEED, 0]), spec["sf"]))
    if "documents" in need:
        docs = documents(np.random.default_rng([BASE_SEED, 2]),
                         spec["documents"], spec["dup_frac"])
        salt = "".join(chr(ord("a") + int(c)) for c in
                       np.random.default_rng([seed, 2]).integers(0, 26, 2))
        tables["documents"] = documents_table(docs, salt)
    if "embeddings" in need:
        vecs, labels = base_vectors(np.random.default_rng([BASE_SEED, 3]), spec["vectors"])
        tables["embeddings"] = embeddings_table(vecs, labels, spec["replicas"], seed)
    cents = np.random.default_rng([seed, 3])
    for name in sorted(need):
        write(reprice(tables[name], cents), os.path.join(out, f"{name}.parquet"),
              spec.get("files", {}).get(name, 1))


def ensure(spec, seed, out):
    """Builds the inputs once per (spec, seed); later runs reuse them."""
    key = hashlib.sha256(json.dumps([spec, seed], sort_keys=True).encode()).hexdigest()
    done = os.path.join(out, "DONE")
    if os.path.exists(done) and open(done).read() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(spec, seed, out)
    with open(done, "w") as f:
        f.write(key)
    return out


def digest(out):
    """SHA-256 over every input file's name and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        for f in sorted(files):
            if f != "DONE":
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, out).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()
