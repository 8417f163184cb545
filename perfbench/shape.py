#!/usr/bin/env python3
"""Measure the shape of a FIXTURES-shaped input directory.

    python3 perfbench/shape.py DIR [DIR ...]

Prints, per directory, the distributions the program is sensitive to:
edge-endpoint degrees (orders per customer, lines per supplier), team
sizes (customers per nation), lines per order, docs per (src, dst)
pair, the share of trove users, the document text (words per doc,
vocabulary, near-duplicate copies) and the embeddings' cosine
structure. Run it on the repository's fixture tables and on a directory
`gen.py` wrote to compare the two; `FIXTURE` below holds the sf0.1
fixture tables' figures, and `gen.py` draws its inputs from them.
"""
import json
import sys

import duckdb
import numpy as np

# Measured with this script on the sf0.1 fixture tables (FIXTURES.md §A:
# 15,000 customers, 1,000 suppliers, 150,000 orders, 600,000 lineitems,
# 5,000 documents, 2,000 embeddings). The sf0.01 tables agree wherever a
# figure does not depend on the scale.
FIXTURE = {
    "orders_per_customer": {"mean": 10.0, "max": 24, "top1pct_share": 0.0194},
    "lines_per_supplier": {"mean": 600.0, "cv": 0.043},
    "customers_per_nation": {"min": 553, "median": 596.0, "max": 642},
    "lines_per_order": {"mean_nonempty": 4.075, "empty_share": 0.0184},
    "docs_per_pair": 1.022,
    "trove_user_share": 0.911,
    "words_per_doc": {"min": 10, "max": 100, "mean": 54.1},
    "vocabulary": 31,
    "dup_doc_share": 0.05,
    "lang_en_share": 0.412,
    "embedding": {"dim": 64, "labels": 10, "norm": 1.0, "component_sd": 0.125,
                  "same_label_mean_cos": 0.0},
}


def _one(c, sql):
    return c.sql(sql).fetchone()


def graph_shape(c, d):
    cust, supp, orders, lines = (f"'{d}/{t}.parquet'" for t in
                                 ("customer", "supplier", "orders", "lineitem"))
    nc = _one(c, f"select count(*) from {cust}")[0]
    out = {}
    mx, mean, top = _one(c, f"""
        with k as (select c_custkey, count(o_orderkey) n from {cust}
                   left join {orders} on o_custkey = c_custkey group by 1),
             r as (select n, row_number() over (order by n desc) rk from k)
        select max(n), avg(n),
               sum(case when rk <= greatest(1, {nc} // 100) then n end) / sum(n) from r""")
    out["orders_per_customer"] = {"mean": round(mean, 4), "max": mx,
                                  "top1pct_share": round(top, 4)}
    mean, cv = _one(c, f"""with k as (select l_suppkey, count(*) n from {lines} group by 1)
                           select avg(n), stddev_pop(n) / avg(n) from k""")
    out["lines_per_supplier"] = {"mean": round(mean, 4), "cv": round(cv, 4)}
    lo, med, hi = _one(c, f"""with k as (select c_nationkey, count(*) n from {cust} group by 1)
                              select min(n), median(n), max(n) from k""")
    out["customers_per_nation"] = {"min": lo, "median": float(med), "max": hi}
    mean, empty = _one(c, f"""
        with k as (select o_orderkey, count(l_orderkey) n from {orders}
                   left join {lines} on l_orderkey = o_orderkey group by 1)
        select avg(case when n > 0 then n end), avg(case when n = 0 then 1.0 else 0.0 end) from k""")
    out["lines_per_order"] = {"mean_nonempty": round(mean, 4), "empty_share": round(empty, 4)}
    out["docs_per_pair"] = round(_one(c, f"""
        select count(*) / count(distinct (o_custkey, l_suppkey))
        from {orders} join {lines} on o_orderkey = l_orderkey""")[0], 4)
    out["trove_user_share"] = round(_one(
        c, f"select avg(case when c_acctbal > 0 then 1.0 else 0.0 end) from {cust}")[0], 4)
    return out


def text_shape(c, d):
    docs = f"'{d}/documents.parquet'"
    lo, hi, mean = _one(c, f"""with k as (select len(string_split(text, ' ')) n from {docs})
                               select min(n), max(n), avg(n) from k""")
    out = {"words_per_doc": {"min": lo, "max": hi, "mean": round(mean, 2)}}
    out["vocabulary"] = _one(c, f"""select count(distinct w) from
                                    (select unnest(string_split(text, ' ')) w from {docs})""")[0]
    # a near-duplicate copy is an earlier document's text plus " dup"
    out["dup_doc_share"] = round(_one(
        c, f"select avg(case when text like '%dup' then 1.0 else 0.0 end) from {docs}")[0], 4)
    out["lang_en_share"] = round(_one(
        c, f"select avg(case when lang = 'en' then 1.0 else 0.0 end) from {docs}")[0], 4)
    return out


def embedding_shape(c, d):
    e = c.sql(f"select embedding, label from '{d}/embeddings.parquet'").fetchnumpy()
    x = np.stack(e["embedding"]).astype(np.float64)
    lab = np.asarray(e["label"])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    s = xn @ xn.T
    same = (lab[:, None] == lab[None, :]) & ~np.eye(len(lab), dtype=bool)
    return {"embedding": {"dim": int(x.shape[1]), "labels": int(len(set(lab.tolist()))),
                          "norm": round(float(np.linalg.norm(x, axis=1).mean()), 4),
                          "component_sd": round(float(x.std()), 4),
                          "same_label_mean_cos": round(float(s[same].mean()), 4)}}


def shape(d):
    """Every figure of `FIXTURE` that the tables under `d` allow."""
    import os
    c = duckdb.connect()
    out = {}
    if os.path.exists(f"{d}/lineitem.parquet"):
        out.update(graph_shape(c, d))
    if os.path.exists(f"{d}/documents.parquet"):
        out.update(text_shape(c, d))
    if os.path.exists(f"{d}/embeddings.parquet"):
        out.update(embedding_shape(c, d))
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for d in sys.argv[1:]:
        print(d, json.dumps(shape(d)))
