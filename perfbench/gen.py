"""Seeded input generators, one per workload.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (numpy's PCG64 stream + pyarrow's deterministic
parquet writer, no timestamps in the output). The engine sees only the
files written here.

The table shapes follow the engine's corpus contract (FIXTURES.md): same
column names and physical types, one row group, snappy. The value
domains (keys, names, categories, date ranges, price grids) are the
corpus's, so every query's filters select rows.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The corpus vocabulary of the engine's `documents` table.
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
DOCS = 300
# Share of documents planted as near-duplicates: a copy of another
# document's text with one word appended (the sf0.1 corpus plants 5%).
NEAR_DUP_SHARE = 0.05

def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(table.num_rows, 1))


def documents(seed, index, out_dir, n_docs=DOCS):
    """Fresh `documents` snapshot number `index`: new doc_ids, the corpus's
    word and length distribution, NEAR_DUP_SHARE planted near-duplicates."""
    rng = np.random.default_rng([seed, 2, index])
    first_id = int(rng.integers(0, 1000)) * 10_000
    lengths = rng.integers(10, 100, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    dup_rows = rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False)
    for i in dup_rows:
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    return {"docs": n_docs, "near_dup_share": NEAR_DUP_SHARE}


def ndjson_objects(seed, out_dir, rounds, per_round, records):
    """`rounds` arrival rounds of `per_round` NDJSON objects of `records`
    records each, written as `<out_dir>/r<round>/<key>`, with the
    reference's edge cases: records without `name`, null names, nested
    extras, blank lines, and one corrupt line in the whole set. The output
    check derives its expectations from these files alone."""
    rng = np.random.default_rng([seed, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))
    corrupt_at = (int(rng.integers(0, rounds)), int(rng.integers(0, per_round)))
    next_id = 0
    for r in range(rounds):
        for o in range(per_round):
            shape = rng.integers(0, 10, records)
            name_len = rng.integers(1, 12, records)
            chars = letters[rng.integers(0, len(letters), int(name_len.sum()))]
            ends = np.cumsum(name_len)
            extra = rng.integers(0, 4, records) == 0
            score = rng.integers(0, 1000, records)
            tag = rng.integers(0, 9, records)
            blank = rng.integers(0, 50, records) == 0
            lines = []
            for j in range(records):
                rec = {"id": next_id + j}
                if shape[j] < 7:
                    rec["name"] = "".join(chars[ends[j] - name_len[j]:ends[j]])
                elif shape[j] == 7:
                    rec["name"] = None
                # shapes 8 and 9: no name field at all
                if extra[j]:
                    rec["extra"] = {"score": int(score[j]), "tags": [f"t{tag[j]}"]}
                lines.append(json.dumps(rec, separators=(",", ":")))
                if blank[j]:
                    lines.append("")
            next_id += records
            if (r, o) == corrupt_at:
                lines.insert(int(rng.integers(0, len(lines))), '{"id": 1, "name": ')
            path = f"{out_dir}/r{r:03d}/obj-{r:03d}-{o:03d}.ndjson"
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
    return {"rounds": rounds, "objects_per_round": per_round,
            "records_per_object": records}


# TPC-H-shaped tables at the corpus's sf0.01 row counts.
SQL_ROWS = {"supplier": 100, "part": 2000, "customer": 1500,
            "orders": 15000, "lineitem": 60000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = (["small", "new", "hot", "large", "cold", "blue", "old", "red"],
              ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
PART_TYPES = ["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_DAYS = (datetime.date(1995, 1, 1), datetime.date(2001, 8, 1))
SHIP_DAYS = (datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))


def _money(rng, lo, hi, n):
    """Uniform amounts on the cent grid."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, span, n):
    lo, hi = (np.datetime64(d, "D") for d in span)
    return (lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)).astype("datetime64[us]")


def tpch(seed, out_dir):
    """The seven TPC-H-shaped tables the SQL queries read, with the
    corpus's value domains: uniform keys, cent-grid prices and balances,
    the corpus's categories and date ranges."""
    rng = np.random.default_rng([seed, 3])
    n = SQL_ROWS
    i32 = lambda xs: pa.array(xs, pa.int32())
    _write(pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": i32(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({"s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
           f"{out_dir}/supplier.parquet")
    keys = np.arange(n["part"], dtype=np.int64)
    adj, noun = (np.array(w)[rng.integers(0, len(w), n["part"])] for w in PART_WORDS)
    _write(pa.table({"p_partkey": keys,
                     "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                     "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n["part"])],
                     "p_size": i32(rng.integers(1, 51, n["part"])),
                     "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)}),
           f"{out_dir}/part.parquet")
    _write(pa.table({"c_custkey": np.arange(n["customer"], dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                     "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])]}),
           f"{out_dir}/customer.parquet")
    _write(pa.table({"o_orderkey": np.arange(n["orders"], dtype=np.int64),
                     "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
                     "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                     "o_orderdate": _days(rng, ORDER_DAYS, n["orders"]),
                     "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n["orders"])]}),
           f"{out_dir}/orders.parquet")
    m = n["lineitem"]
    flag_status = rng.integers(0, 6, m)
    _write(pa.table({"l_orderkey": rng.integers(0, n["orders"], m),
                     "l_partkey": rng.integers(0, n["part"], m),
                     "l_suppkey": rng.integers(0, n["supplier"], m),
                     "l_linenumber": i32(rng.integers(1, 8, m)),
                     "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                     "l_extendedprice": _money(rng, 900.0, 105000.0, m),
                     "l_discount": rng.integers(0, 11, m) / 100.0,
                     "l_tax": rng.integers(0, 9, m) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[flag_status // 2],
                     "l_linestatus": np.array(["F", "O"])[flag_status % 2],
                     "l_shipdate": _days(rng, SHIP_DAYS, m)}),
           f"{out_dir}/lineitem.parquet")
    return {"rows": dict(n, region=5, nation=25)}


# Clustered unit vectors, the shape of the corpus's `embeddings` table.
VECTORS, DIM, CLUSTERS, SPREAD = 2000, 64, 10, 0.6


def embeddings(seed, index, out_dir, n_vectors=VECTORS):
    """Fresh `embeddings` table number `index`: `n_vectors` unit-norm
    float32 vectors of DIM dimensions around CLUSTERS random centres
    (label = the centre), noise SPREAD per unit centre."""
    rng = np.random.default_rng([seed, 5, index])
    centres = rng.standard_normal((CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, CLUSTERS, n_vectors)
    v = centres[labels] + SPREAD / np.sqrt(DIM) * rng.standard_normal((n_vectors, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({"vec_id": np.arange(n_vectors, dtype=np.int64),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())}),
           f"{out_dir}/embeddings.parquet")
    return {"vectors": n_vectors, "dim": DIM, "clusters": CLUSTERS, "spread": SPREAD}
