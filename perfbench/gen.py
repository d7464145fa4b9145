"""Seeded input generator for the benchmark workloads.

Writes the ten parquet tables the registered queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas, physical types and value domains of the
project's TPC-H-ish fixtures (TESTDATA.md): int64 keys, int32 small
codes, TIMESTAMP(MICROS, isAdjustedToUTC=false) dates, one row group per
file. Every value is drawn from the seed, so a different seed gives
different rows; the row order of the fact tables is a seeded
permutation, and each copy of the documents tier carries its own seeded
token salt, so shingle spaces stay disjoint across copies.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes per workload: the relational tables at sf0.01 of the
# fixtures; the documents tier is COPIES x DOCS.
SIZES = {
    "pmp_reports": dict(customer=1500, supplier=100, part=2000,
                        orders=15000, lineitem=60000, events=10000,
                        docs=500, copies=1, embeddings=200),
    "corpus_dedup": dict(customer=1500, supplier=100, part=2000,
                         orders=15000, lineitem=60000, events=10000,
                         docs=750, copies=4, embeddings=200),
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def relational(rng, s):
    nc, ns, npart, no, nl = (s["customer"], s["supplier"], s["part"],
                             s["orders"], s["lineitem"])
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(npart, dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, no) * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": _pick(rng, ["N", "R", "A"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * US_PER_DAY),
    })
    return dict(region=region, nation=nation, customer=customer,
                supplier=supplier, part=part, orders=orders, lineitem=lineitem)


def events(rng, n, users):
    # sorted timestamps over 30 days; event ids follow time order
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _base_texts(rng, n):
    """Random token streams cut at a random character length (cuts land
    mid-token, as in the fixtures), with 5% near-duplicates (another
    document plus a ' dup' token) and a few exact duplicates."""
    lengths = rng.integers(44, 578, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), ln // 4 + 2)])[:ln].strip()
             for ln in lengths]
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return texts


def documents(rng, n, copies):
    base = _base_texts(rng, n)
    lang = np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]
    ids, texts, langs, sources = [], [], [], []
    for k in range(copies):
        if copies == 1:
            salted = base
        else:
            salt = f"{chr(97 + int(rng.integers(0, 26)))}{k}"
            salted = [" ".join(salt + t for t in s.split(" ")) for s in base]
        order = rng.permutation(n)
        ids.extend(k * n + order)
        texts.extend(salted[i] for i in order)
        langs.extend(lang[order])
        sources.extend(f"src{i % 20}" for i in order)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, len(texts))),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n, dtype=np.int32)
    v = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(workload, seed, out_dir):
    """Write the workload's tables into out_dir; return per-table rows
    and bytes."""
    s = SIZES[workload]
    rng = np.random.default_rng(seed)
    tables = relational(rng, s)
    tables["events"] = events(rng, s["events"], users=max(100, s["events"] // 66))
    tables["documents"] = documents(rng, s["docs"], s["copies"])
    tables["embeddings"] = embeddings(rng, s["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy", row_group_size=1 << 22)
        manifest[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return manifest

