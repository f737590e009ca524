#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten source tables the program reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each, same schema as the project's test data) plus, for the
lifecycle workload, the arriving batches and takedown id sets, and a
`expected.json` whose counts come from DuckDB over the written files,
never from the program under test.

    python3 perfbench/gen.py --seed 7 --copies 3 --docs 500 --out DIR \
        [--orphans] [--null-column] [--rounds 8]

Copy c offsets every key by c times the table's base key range, so every
FK edge still joins inside its copy. For c >= 1 a seeded ~30% of text
tokens are replaced and vectors get seeded noise, so copies are not
near-duplicates of copy 0; copy 0 keeps the planted near-duplicate
documents. Output is byte-identical for the same arguments.
"""
import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIM = 64
NLABELS = 10
EPOCH_DAY = np.datetime64("1995-01-01", "D")

# The seven FK edges the migrate workload validates (child, col, parent, col).
FK_EDGES = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def sizes(docs):
    """Base row counts per copy, in the test data's proportions
    (500 documents go with 15 000 orders)."""
    k = docs / 500.0
    return {"customer": int(1500 * k), "supplier": max(10, int(100 * k)),
            "part": int(2000 * k), "orders": int(15000 * k),
            "events": int(10000 * k), "documents": docs,
            "embeddings": docs}


def write(tbl, path):
    # One row group, fixed writer settings: byte-identical reruns.
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 30)


def texts_of(rng, n, dup_frac=0.05):
    lens = rng.integers(20, 80, n)
    words = [list(rng.choice(VOCAB, l)) for l in lens]
    # planted near-duplicates: a copy of an earlier doc with 1-2 edits
    ndup = int(n * dup_frac)
    for i in rng.choice(np.arange(1, n), ndup, replace=False):
        src = list(words[int(rng.integers(0, i))])
        for _ in range(int(rng.integers(1, 3))):
            src[int(rng.integers(0, len(src)))] = str(rng.choice(VOCAB))
        words[i] = src
    return words


def perturb(rng, words, frac=0.3):
    out = []
    for w in words:
        w = list(w)
        for j in np.nonzero(rng.random(len(w)) < frac)[0]:
            w[j] = str(rng.choice(VOCAB))
        out.append(w)
    return out


def unit(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def doc_table(ids, words, rng):
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(ids), p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(seed, copies, docs, out, orphans, null_column, rounds):
    rng = np.random.default_rng(seed)
    n = sizes(docs)
    centers = unit(rng.normal(size=(NLABELS, DIM))) * 0.14
    base_words = texts_of(rng, docs)
    base_labels = rng.integers(0, NLABELS, docs)
    base_vecs = unit(centers[base_labels] + rng.normal(size=(docs, DIM)) / 8.0)
    parts = {t: [] for t in TABLES}
    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    for c in range(copies):
        r = np.random.default_rng([seed, c])
        off = {t: c * v for t, v in n.items()}
        parts["region"].append(pa.table({
            "r_regionkey": pa.array(np.arange(5) + 5 * c, pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}))
        nk = np.arange(25)
        parts["nation"].append(pa.table({
            "n_nationkey": pa.array(nk + 25 * c, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
            "n_regionkey": pa.array(nk % 5 + 5 * c, pa.int32())}))
        ck = np.arange(n["customer"]) + off["customer"]
        parts["customer"].append(pa.table({
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in ck], pa.string()),
            "c_nationkey": pa.array(r.integers(0, 25, len(ck)) + 25 * c,
                                    pa.int32()),
            "c_acctbal": pa.array(np.round(r.uniform(0, 10000, len(ck)), 2)),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, len(ck)), pa.string())}))
        sk = np.arange(n["supplier"]) + off["supplier"]
        parts["supplier"].append(pa.table({
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], pa.string()),
            "s_nationkey": pa.array(r.integers(0, 25, len(sk)) + 25 * c,
                                    pa.int32()),
            "s_acctbal": pa.array(np.round(r.uniform(0, 10000, len(sk)), 2))}))
        pk = np.arange(n["part"]) + off["part"]
        price = np.round(900.0 + (pk % 1000) * 0.1, 1)
        parts["part"].append(pa.table({
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
                r.integers(0, 8, len(pk)), r.integers(0, 8, len(pk)))],
                pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 r.integers(1, 26, len(pk))], pa.string()),
            "p_type": pa.array(r.choice(PTYPES, len(pk)), pa.string()),
            "p_size": pa.array(r.integers(1, 51, len(pk)), pa.int32()),
            "p_retailprice": pa.array(price)}))
        ok = np.arange(n["orders"]) + off["orders"]
        odays = r.integers(0, 2404, len(ok))
        odate = EPOCH_DAY + odays.astype("timedelta64[D]")
        parts["orders"].append(pa.table({
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], len(ok))
                                  + off["customer"], pa.int64()),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], len(ok)),
                                      pa.string()),
            "o_totalprice": pa.array(np.round(r.uniform(1000, 500000,
                                                        len(ok)), 2)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, len(ok)),
                                        pa.string())}))
        nl = r.integers(1, 8, len(ok))
        lok = np.repeat(ok, nl)
        lnum = np.concatenate([np.arange(1, m + 1) for m in nl])
        lpk = r.integers(0, n["part"], len(lok)) + off["part"]
        qty = r.integers(1, 51, len(lok)).astype(np.float64)
        ship = (np.repeat(odate, nl)
                + r.integers(1, 122, len(lok)).astype("timedelta64[D]"))
        parts["lineitem"].append(pa.table({
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(lpk, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], len(lok))
                                  + off["supplier"], pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(
                qty * (900.0 + (lpk % 1000) * 0.1) * r.uniform(0.9, 2.3,
                                                              len(lok)), 2)),
            "l_discount": pa.array(r.integers(0, 11, len(lok)) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, len(lok)) / 100.0),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], len(lok)),
                                     pa.string()),
            "l_linestatus": pa.array(r.choice(["F", "O"], len(lok)),
                                     pa.string()),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                                   pa.timestamp("us"))}))
        ne = n["events"]
        ts = ev0 + np.sort(r.integers(0, 30 * 86400 * 10**6, ne)).astype(
            "timedelta64[us]")
        parts["events"].append(pa.table({
            "event_id": pa.array(np.arange(ne) + off["events"], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 150, ne) + 150 * c, pa.int64()),
            "event_type": pa.array(r.choice(EVENT_TYPES, ne), pa.string()),
            "value": pa.array(np.round(r.exponential(40.0, ne) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               r.integers(0, 100, ne)], pa.string())}))
        words = base_words if c == 0 else perturb(r, base_words)
        vecs = base_vecs if c == 0 else unit(
            base_vecs + r.normal(size=base_vecs.shape) / 6.0)
        ids = np.arange(docs) + off["documents"]
        parts["documents"].append(doc_table(ids, words, r))
        parts["embeddings"].append(emb_table(ids, vecs, base_labels))

    tables = {t: pa.concat_tables(v) for t, v in parts.items()}
    meta = {"seed": seed, "copies": copies, "docs": docs}
    if orphans:
        # Re-point a seeded number of child rows per edge at keys no
        # parent copy has.
        for child, ccol, parent, pcol in FK_EDGES:
            t = tables[child]
            k = int(rng.integers(3, min(31, t.num_rows // 2 + 1)))
            rows = np.sort(rng.choice(t.num_rows, k, replace=False))
            vals = t.column(ccol).to_numpy().copy()
            top = int(pa.compute.max(tables[parent].column(pcol)).as_py())
            vals[rows] = top + 1 + np.arange(k)
            i = t.schema.get_field_index(ccol)
            tables[child] = t.set_column(
                i, ccol, pa.array(vals, t.schema.field(ccol).type))
    if null_column:
        tables["customer"] = tables["customer"].append_column(
            "c_comment", pa.nulls(tables["customer"].num_rows, pa.string()))
    os.makedirs(out, exist_ok=True)
    for t, tbl in tables.items():
        write(tbl, os.path.join(out, f"{t}.parquet"))
    if rounds:
        write_batches(rng, out, base_words, base_vecs, base_labels, docs,
                      rounds)
    meta["expected"] = expected(out, rounds)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)


def write_batches(rng, out, words, vecs, labels, docs, rounds):
    """Per round r: a 1% arriving batch (perturbed copies of standing docs
    under fresh ids) and a 1% takedown set mixing standing ids with ids
    appended in rounds <= r."""
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir, exist_ok=True)
    m = max(2, docs // 100)
    next_id = 10**9
    appended, taken = [], set()
    for r in range(rounds):
        src = rng.choice(docs, m, replace=False)
        ids = np.arange(next_id, next_id + m)
        next_id += m
        bw = perturb(rng, [words[i] for i in src], frac=0.1)
        write(doc_table(ids, bw, rng), os.path.join(bdir, f"docs_{r}.parquet"))
        bv = unit(vecs[src] + rng.normal(size=(m, DIM)) / 20.0)
        write(emb_table(ids, bv, labels[src]),
              os.path.join(bdir, f"vecs_{r}.parquet"))
        appended.extend(int(i) for i in ids)
        standing = [i for i in range(docs) if i not in taken]
        pool_new = [i for i in appended if i not in taken]
        k_new = m // 2
        gone = list(rng.choice(pool_new, k_new, replace=False)) + list(
            rng.choice(standing, m - k_new, replace=False))
        gone = sorted(int(i) for i in gone)
        taken.update(gone)
        write(pa.table({"doc_id": pa.array(gone, pa.int64())}),
              os.path.join(bdir, f"takedown_{r}.parquet"))


def expected(out, rounds):
    import duckdb
    con = duckdb.connect()
    p = lambda t: f"'{os.path.join(out, t + '.parquet')}'"
    rows = {t: con.execute(f"select count(*) from {p(t)}").fetchone()[0]
            for t in TABLES}
    orphans = {}
    for child, ccol, parent, pcol in FK_EDGES:
        orphans[f"{child}.{ccol}->{parent}.{pcol}"] = con.execute(
            f"select count(*) from {p(child)} c where c.{ccol} is not null "
            f"and not exists (select 1 from {p(parent)} q "
            f"where q.{pcol} = c.{ccol})").fetchone()[0]
    e = {"rows": rows, "orphans": orphans,
         "input_bytes": sum(os.path.getsize(os.path.join(out, t + ".parquet"))
                            for t in rows)}
    if rounds:
        b = os.path.join(out, "batches")
        e["batch_ids"] = [[r[0] for r in con.execute(
            f"select doc_id from '{b}/docs_{i}.parquet' order by 1").fetchall()]
            for i in range(rounds)]
        e["takedown_ids"] = [[r[0] for r in con.execute(
            f"select doc_id from '{b}/takedown_{i}.parquet' order by 1"
        ).fetchall()] for i in range(rounds)]
    return e


def ensure(seed, copies, docs, out, orphans=False, null_column=False,
           rounds=0):
    """Generate into `out` unless a complete copy for these arguments is
    already there (the cache is keyed by the directory name)."""
    if os.path.exists(os.path.join(out, "expected.json")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(seed, copies, docs, tmp, orphans, null_column, rounds)
    os.replace(tmp, out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--copies", type=int, default=1)
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--rounds", type=int, default=0)
    ap.add_argument("--orphans", action="store_true")
    ap.add_argument("--null-column", action="store_true")
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.seed, a.copies, a.docs, a.out, a.orphans, a.null_column,
             a.rounds)


if __name__ == "__main__":
    main(sys.argv[1:])
