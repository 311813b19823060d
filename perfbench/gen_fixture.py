"""Deterministic benchmark fixture: the ten graft tables at scale 0.1.

The tables follow the schemas and value domains in FIXTURES.md (one
parquet file per table, one row group, snappy), so every query of the
registry runs on them. The generator seed is a constant: the fixture is
the same for every benchmark seed, which is what lets the expected row
counts in expected_counts.json be pinned. The benchmark seed only picks
the sync cut, the damaged ranges and the panel order.

Usage: python3 perfbench/gen_fixture.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240101
SF = 0.1

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
PART_ADJ = "blue cold hot small red new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[ms]"), pa.timestamp("ms"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def tables(rng):
    n_sup, n_cust, n_part = int(10000 * SF), int(150000 * SF), int(200000 * SF)
    n_ord, n_li, n_ev = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_doc, n_emb = 5000, 2000
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk), "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})
    sk = np.arange(n_sup, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_sup)})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    # lineitem rows are NOT clustered by l_orderkey (as in the test
    # fixture): a range scan on it reads the whole file.
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_li)})
    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**9, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = [" ".join(np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates: another document's text plus one marker word
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": pa.array(texts),
        "lang": pick(rng, ["en", "es", "de", "fr", "zh"], n_doc,
                     p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return out


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(np.random.default_rng(FIXTURE_SEED)).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")


if __name__ == "__main__":
    main(sys.argv[1])
