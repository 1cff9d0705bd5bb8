#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir> [--sf <x>]

Writes everything a workload reads, before any timed work starts, so the
program under test only ever receives generated files:

* `cdc_ingest`: the `part` table (the sku dim), `cdc/bootstrap.json` plus
  `cdc/batch_NNNN.json`, Maxwell JSON lines (the `topic_db` envelope) for
  `cart_info` and `user_info` with Zipf-skewed sku keys and a seeded share
  of rows held back one or more batches, `cdc/base_dic.parquet` and
  `cdc/sku_updates_NNNN.parquet` sku dim updates;
* `batch_query`: the fixture tables (`region` ... `embeddings`) as one
  parquet file each, with the schemas and value shapes of the engine's
  fixture corpus, and `queries.txt`, the seeded query order.

`shape.json` records the parameters that were used. The same seed always
gives the same files.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload shapes. BENCHMARK.json and README.md quote these numbers.
# `batch_rows` is "a few thousand rows" per micro-batch. `late_share`,
# `max_delay` and `zipf_s` are assumptions, not measured traffic: no source
# the benchmark follows gives the late-arrival share or the cart-add key
# skew, so they are set to a small late share and a skew steep enough that
# the hot sku set fits the cache cap (README.md, "Shape").
CDC = dict(sf=0.1, batches=24, pass_batches=6, batch_rows=3000,
           late_share=0.05, max_delay=3, user_share=0.15, zipf_s=2.5,
           sku_buckets=64, cache_cap=32, sku_update_every=3,
           sku_update_rows=200)
QUERY_SF = 0.001

# The read-only query mix: two to four queries from each reference-surface
# family plus the carry-over queries. Queries that write a store are left
# out.
FAMILIES = {
    "core": ["q_cart_add", "q_etl_filter", "q_cdc_transition"],
    "join": ["q_join_inner", "q_join_lookup", "q_join_interval"],
    "split": ["q_split_page", "q_explode_actions"],
    "dws": ["q_dws_cart_uu", "q_dws_sku", "q_dws_province", "q_dws_keyword"],
    "dwd": ["q_dwd_order_detail", "q_dwd_pay_suc"],
    "state": ["q_upsert_dedup", "q_scd2"],
    "carry": ["q_cms_freq", "q_pipeline_crawl", "q_bpe_train"],
}
PASSES = 40

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line", "data",
         "table", "agg", "value", "key", "stream", "window", "a", "spark",
         "part", "group", "big", "sort", "query", "fast", "the"]
EPOCH_DAY = np.datetime64("1970-01-01", "D")


def days(a, b):
    return (np.datetime64(a, "D") - EPOCH_DAY).astype(np.int64), \
        (np.datetime64(b, "D") - EPOCH_DAY).astype(np.int64)


def ts_ms(day_ints):
    return pa.array(day_ints.astype(np.int64) * 86_400_000,
                    type=pa.timestamp("ms"))


def writer(out, seed, only):
    """`write(name, build)` writes table `name` from `build(rng)` when it is
    wanted. Each table has its own generator, derived from the seed and the
    table name, so a table's content does not depend on which others are
    written."""
    def write(name, build):
        if only is None or name in only:
            rng = np.random.default_rng([seed, sum(map(ord, name))])
            pq.write_table(pa.table(build(rng)),
                           os.path.join(out, f"{name}.parquet"))
    return write


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)].tolist(), type=pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed, out, sf, only=None):
    """The fixture tables (all ten, or the names in `only`), shaped like the
    engine's test corpus."""
    write = writer(out, seed, only)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    n_users = max(15, int(15_000 * sf))

    write("region", lambda rng: {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    write("nation", lambda rng: {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write("customer", lambda rng: {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                   "HOUSEHOLD", "BUILDING"], n_cust)})
    write("supplier", lambda rng: {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    write("part", lambda rng: part(rng, n_part))
    write("orders", lambda rng: orders(rng, n_ord, n_cust))
    write("lineitem", lambda rng: lineitem(rng, n_li, n_ord, n_part, n_supp))
    write("events", lambda rng: events(rng, n_ev, n_users))
    write("documents", lambda rng: documents(rng, n_doc))
    write("embeddings", lambda rng: embeddings(rng, n_emb))


def part(rng, n):
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    pk = np.arange(n, dtype=np.int64)
    return {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pick(rng, ["ECONOMY", "STANDARD", "LARGE", "SMALL",
                             "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)}


def orders(rng, n, n_cust):
    d0, d1 = days("1995-01-01", "2001-08-01")
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": ts_ms(rng.integers(d0, d1 + 1, n)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n)}


def events(rng, n, n_users):
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, n)),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pick(rng, ["click", "signup", "error", "view",
                                 "purchase"], n),
        "value": pa.array(money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n)])}


def documents(rng, n):
    """Random word strings; one in twenty is a near-duplicate of an earlier
    document (its text plus " dup"), which the dedup queries find."""
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS),
                                                     rng.integers(10, 100))])
             for _ in range(n)]
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, ["en", "es", "zh", "de", "fr"], n,
                     p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64))}


def embeddings(rng, n):
    v = rng.normal(0.0, 1.0, (n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))}


def lineitem(rng, n, n_ord, n_part, n_supp):
    d0, d1 = days("1995-01-02", "2001-11-04")
    return {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 901.0, 104_998.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": ts_ms(rng.integers(d0, d1 + 1, n))}


def maxwell_cart(li, i):
    """One `cart_info` Maxwell row, derived from a lineitem row exactly as
    the engine's `Envelopes.maxwell` derives it."""
    ok, ln = li["l_orderkey"][i], li["l_linenumber"][i]
    pk, sk = li["l_partkey"][i], li["l_suppkey"][i]
    qn, rf = int(li["l_quantity"][i]), li["l_returnflag"][i]
    typ = ("bootstrap-start" if ok % 97 == 0 else
           "bootstrap-insert" if ok % 50 == 0 else
           "delete" if ok % 17 == 0 else
           "update" if ln % 3 == 0 else "insert")
    row = {"database": "other" if ok % 10 == 0 else "gmall",
           "table": "cart_info", "type": typ, "data": None, "old": None,
           "ts": int(li["ts"][i])}
    if typ != "bootstrap-start":
        row["data"] = {"id": str(ok * 10 + ln), "order_id": str(ok),
                       "sku_id": str(pk), "user_id": str(sk),
                       "sku_num": str(qn),
                       "payment_status": "1602" if rf == "R" else "1601"}
    if typ == "update":
        old = {"sku_num": str(qn + 2 if pk % 4 == 0 else qn - 1)}
        if rf == "R":
            old["payment_status"] = "1601"
        row["old"] = old
    return row


def zipf(rng, n_keys, s):
    """Zipf(s) key sampler over `n_keys`: ranks mapped through a seeded
    permutation, so the hot keys are spread over the key space."""
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    p /= p.sum()
    perm = rng.permutation(n_keys)
    return lambda size: perm[rng.choice(n_keys, size=size, p=p)]


def cdc_inputs(rng, out):
    c = CDC
    n_ord, n_part, n_supp = int(1_500_000 * c["sf"]), int(200_000 * c["sf"]), \
        int(10_000 * c["sf"])
    n_users = max(15, int(150_000 * c["sf"]))
    n = c["batches"] * c["batch_rows"]
    li = {k: np.asarray(v) for k, v in
          lineitem(rng, n, n_ord, n_part, n_supp).items()}
    li["ts"] = li["l_shipdate"].astype("datetime64[s]").astype(np.int64)
    # cart adds concentrate on popular products
    hot_sku = zipf(rng, n_part, c["zipf_s"])
    li["l_partkey"] = hot_sku(n)
    is_user = rng.random(n) < c["user_share"]
    users = rng.integers(0, n_users, n)
    utype = rng.choice(["insert", "update", "delete"], size=n,
                       p=[0.6, 0.35, 0.05])
    rows = []
    for i in range(n):
        if not is_user[i]:
            rows.append(maxwell_cart(li, i))
        else:
            u = int(users[i])
            rows.append({"database": "gmall", "table": "user_info",
                         "type": str(utype[i]), "ts": int(li["ts"][i]),
                         "data": {"id": str(u), "name": f"user_{u}_{i % 7}",
                                  "phone": f"138{u:08d}"}, "old": None})
    # arrival order is event time; a seeded share arrives 1..max_delay
    # batches late
    order = np.argsort(li["ts"], kind="stable")
    batch_of = np.empty(n, dtype=np.int64)
    batch_of[order] = np.arange(n) // c["batch_rows"]
    late = rng.random(n) < c["late_share"]
    batch_of[late] += rng.integers(1, c["max_delay"] + 1, int(late.sum()))
    batch_of = np.minimum(batch_of, c["batches"] - 1)
    d = os.path.join(out, "cdc")
    os.makedirs(d)
    files = [open(os.path.join(d, f"batch_{b:04d}.json"), "w")
             for b in range(c["batches"])]
    for i in order:
        files[batch_of[i]].write(json.dumps(rows[i]) + "\n")
    for f in files:
        f.close()
    # bootstrap snapshot of the user dim, as Maxwell bootstrap-insert rows
    with open(os.path.join(d, "bootstrap.json"), "w") as f:
        for u in range(0, n_users, 3):
            f.write(json.dumps({
                "database": "gmall", "table": "user_info",
                "type": "bootstrap-insert", "ts": 788_918_400,
                "data": {"id": str(u), "name": f"user_{u}",
                         "phone": f"138{u:08d}"}}) + "\n")
    # payment-status dictionary, the DWD broadcast lookup dim
    pq.write_table(pa.table({
        "dic_code": pa.array([str(x) for x in range(1601, 1700)]),
        "dic_name": pa.array([f"status_{x}" for x in range(1601, 1700)])}),
        os.path.join(d, "base_dic.parquet"))
    # sku dim updates (price/name restatements) for the cached DWS lookup;
    # the updated skus follow the same skew as the cart adds
    for u in range(c["batches"] // c["sku_update_every"]):
        k = np.unique(hot_sku(c["sku_update_rows"]))
        m = len(k)
        pq.write_table(pa.table({
            "sku_key": pa.array(k.astype(np.int64)),
            "sku_name": pa.array([f"sku_{x}_v{u + 1}" for x in k]),
            "brand": pa.array([f"Brand#{b}" for b in
                               rng.integers(1, 26, m)]),
            "price": pa.array(money(rng, 900.0, 1000.0, m)),
            "version": pa.array(np.full(m, u + 1, dtype=np.int64))}),
            os.path.join(d, f"sku_updates_{u:04d}.parquet"))


def query_list():
    return [q for qs in FAMILIES.values() for q in qs]


def query_order(rng, out):
    """`queries.txt`: PASSES passes over the query list, one query and its
    family per line. The first pass, which pays every first-use cost, runs
    in list order, so cold costs compare like with like across seeds; each
    later pass is a seeded permutation."""
    fam = {q: f for f, qs in FAMILIES.items() for q in qs}
    qs = query_list()
    with open(os.path.join(out, "queries.txt"), "w") as f:
        for p in range(PASSES):
            order = qs if p == 0 else [qs[i] for i in rng.permutation(len(qs))]
            f.writelines(f"{q} {fam[q]}\n" for q in order)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_ingest", "batch_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=None,
                    help="small-scale run (the self-test uses 0.001): every "
                    "table at this scale and only a few batches")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    sf = QUERY_SF
    if a.sf is not None:
        sf = a.sf
        CDC.update(sf=a.sf, batches=6, pass_batches=6, batch_rows=300,
                   sku_buckets=8,
                   cache_cap=4, sku_update_every=2, sku_update_rows=50)
    shape = {"workload": a.workload, "seed": a.seed}
    if a.workload == "cdc_ingest":
        fixture_tables(a.seed, a.out, CDC["sf"], only={"part"})
        cdc_inputs(rng, a.out)
        shape.update(CDC)
    else:
        fixture_tables(a.seed, a.out, sf)
        query_order(rng, a.out)
        shape.update(fixture_sf=sf, queries=FAMILIES)
    with open(os.path.join(a.out, "shape.json"), "w") as f:
        json.dump(shape, f)


if __name__ == "__main__":
    main()
