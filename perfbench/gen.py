"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet files, a different seed writes different ones.
Schemas follow FIXTURES.md (the TPC-H-ish fixture tables plus the
reference-shaped relationship docs), so the benchmark's calls stay
identical to registered `SparkEntry.queries` and the DuckDB oracle SQL
applies unchanged.

The distributions are the fixture tables' own, as `shape.py` measures
them (its `FIXTURE` holds the sf0.1 figures; README.md "Input shape"
sets them beside the generated ones): every key is drawn uniformly, so
orders per customer and lines per supplier are Poisson-like with no hub
keys, nations (teams) are uniform, an order has Poisson(4) lines, and
scores, balances and dates are uniform over the fixtures' ranges. The
person graph is drawn at a TPC-H scale factor (`sf` in `SIZES`); at sf0.01 it
has the sf0.01 fixture's row counts. The corpus follows ScaleSmoke's
construction: replicas of a fixture-shaped block of documents, each
replica with its own renamed vocabulary, so near-duplicate families
keep the fixture's size while the corpus grows.

The properties the program is sensitive to are measured on the
generated tables and returned as `props` (printed before every result
line): endpoint degrees (hub keys), team sizes (hop fan-out), docs per
(src, dst) pair, increment size against accumulated state, and
near-duplicate family sizes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload, bounded by the run budget (README.md, "Sizing"):
# every run, set-up and correctness check included, has to finish in
# about a minute. `sf` is the TPC-H scale factor of the person graph.
SIZES = {
    "ref_etl": dict(sf=0.005, batches=2, batch_docs=1000),
    "graph_iter": dict(sf=0.005),
    "curation": dict(replicas=2, docs_per_replica=500, spool_files=2, vectors=1000),
}

# Rows per unit of scale factor, and lines per order, as in the fixtures
CUSTOMERS, SUPPLIERS, ORDERS, PARTS = 150_000, 10_000, 1_500_000, 200_000
LINES_PER_ORDER = 4
# Fixture value ranges (shape.py; FIXTURES.md §A)
ORDER_DAY0, ORDER_DAYS = dt.datetime(1995, 1, 1), 2405  # 1995-01-01 .. 2001-08-01
SHIP_DAY0, SHIP_DAYS = dt.datetime(1995, 1, 2), 2499    # 1995-01-02 .. 2001-11-04
# Document text: words per doc uniform in 10..99 over a uniform 30-word
# vocabulary; 5% of the docs copy an earlier doc's text and append
# " dup"; 41% are "en", the other four languages share the rest.
VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch")
STOPWORDS = frozenset(("the", "a", "an", "of", "and", "to", "in", "is", "it", "on"))
DUP_SHARE = 0.05
# seed of the near-duplicate family layout, the same for every run
FAMILY_LAYOUT = 0
LANGS, LANG_P = ("en", "de", "fr", "es", "zh"), (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
DIM, LABELS = 64, 10

US_PER_DAY = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(day0, rng, n, span):
    base = (day0 - dt.datetime(1970, 1, 1)).days
    return (base + rng.integers(0, span, n)) * US_PER_DAY


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _degree_stats(keys, n):
    counts = np.bincount(keys, minlength=n)
    return dict(max=int(counts.max()), median=float(np.median(counts)),
                top1pct_share=round(float(np.sort(counts)[::-1][:max(1, n // 100)].sum()
                                          / counts.sum()), 4))


def person_graph(rng, out, s, props):
    """customer / supplier / orders / lineitem / nation / region."""
    sf = s["sf"]
    nc, ns, no = round(CUSTOMERS * sf), round(SUPPLIERS * sf), round(ORDERS * sf)
    nl = LINES_PER_ORDER * no

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": [f"REGION_{i}" for i in range(5)]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")

    nation = rng.integers(0, 25, nc).astype(np.int32)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    acct = np.round(rng.uniform(-999.99, 9999.99, nc), 2)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(nation),
        "c_acctbal": pa.array(acct),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, nc)]),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    }), f"{out}/supplier.parquet")

    ocust = rng.integers(0, nc, no).astype(np.int64)
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(ocust),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _ts(_days(ORDER_DAY0, rng, no, ORDER_DAYS)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, no)]),
    }), f"{out}/orders.parquet")

    # every line picks its order uniformly: Poisson(4) lines per order,
    # ~2% of orders without lines, as in the fixtures
    okey = rng.integers(0, no, nl).astype(np.int64)
    supp = rng.integers(0, ns, nl).astype(np.int64)
    ship = _days(SHIP_DAY0, rng, nl, SHIP_DAYS)
    _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, round(PARTS * sf), nl).astype(np.int64)),
        "l_suppkey": pa.array(supp),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(ship),
    }), f"{out}/lineitem.parquet")

    team_sizes = np.bincount(nation, minlength=25)
    src = ocust[okey]
    props.update(
        sf=sf, customers=nc, suppliers=ns, orders=no, lineitem_rows=int(nl),
        supplier_degree=_degree_stats(supp, ns),
        customer_degree=_degree_stats(src, nc),
        docs_per_pair=round(nl / len(np.unique(src * ns + supp)), 4),
        trove_user_share=round(float((acct > 0).mean()), 4),
        team_size_max=int(team_sizes.max()), team_size_min=int(team_sizes.min()),
        team_size_median=float(np.median(team_sizes)))
    return int(ship.max())


def increments(rng, out, s, props, last_us):
    """Reference-shaped watermark batches (FIXTURES.md §B), with the
    endpoints and scores of the history's relationship docs (uniform
    customer and supplier, `l_quantity` and `l_partkey % 100`). Each
    batch holds docs at/after its watermark plus ~5% stragglers from
    before it, which the watermark filter must drop."""
    nc, ns = props["customers"], props["suppliers"]
    nb, per = s["batches"], s["batch_docs"]
    stats_t = pa.struct([("raw_score_in", pa.int32()), ("raw_score_out", pa.int32())])
    wms = []
    for b in range(nb):
        wm = last_us + (b + 1) * 7 * US_PER_DAY
        late = rng.random(per) < 0.05
        ts = np.where(late, wm - rng.integers(1, 30, per) * US_PER_DAY,
                      wm + rng.integers(0, 7 * 24, per) * 3_600_000_000)
        stats = pa.StructArray.from_arrays(
            [pa.array(rng.integers(1, 51, per).astype(np.int32)),
             pa.array(rng.integers(0, 100, per).astype(np.int32))],
            fields=list(stats_t))
        _write(pa.table({
            "last_update": _ts(ts),
            "from_person_id": [f"C{k}" for k in rng.integers(0, nc, per)],
            "to_person_id": [f"S{k}" for k in rng.integers(0, ns, per)],
            "stats": stats,
        }), f"{out}/incr_{b:03d}.parquet")
        wms.append(int(wm))
    props.update(batches=nb, batch_docs=per, watermarks_us=wms,
                 increment_to_state=round(per / props["lineitem_rows"], 4))


def _block(rng, n, rep):
    """One replica's documents: fixture-shaped text whose non-stopword
    tokens carry the replica's prefix (ScaleSmoke: `tok -> r<rep>x<tok>`),
    and the near-duplicate families its copies form.

    Which documents are copies, and of which earlier document, is drawn
    from a stream of its own that the seed does not reach: every seed
    has the same families, so the dedup chain does the same work (its
    rounds follow the largest family), and the seed varies the text."""
    vocab = np.array([w if w in STOPWORDS else f"r{rep}x{w}" for w in VOCAB])
    dup = f"r{rep}x" + "dup"
    layout = np.random.default_rng([FAMILY_LAYOUT, rep])
    texts, root = [], []
    for i in range(n):
        if i > 0 and layout.random() < DUP_SHARE:
            j = int(layout.integers(0, i))
            texts.append(texts[j] + " " + dup)
            root.append(root[j])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
            root.append(i)
    return texts, np.bincount(np.array(root))


def corpus(rng, out, s, props):
    """Replicated fixture-shaped documents plus random unit embeddings."""
    reps, per = s["replicas"], s["docs_per_replica"]
    texts, fams = [], []
    for r in range(reps):
        t, f = _block(rng, per, r)
        texts += t
        fams.append(f[f > 0])
    fam = np.concatenate(fams)
    nd = len(texts)
    docs = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(docs, f"{out}/documents.parquet")
    os.makedirs(f"{out}/spool", exist_ok=True)
    nf = s["spool_files"]
    bounds = np.linspace(0, nd, nf + 1).astype(int)
    for i in range(nf):
        _write(docs.slice(bounds[i], bounds[i + 1] - bounds[i]),
               f"{out}/spool/part-{i:03d}.parquet")

    # the fixture embeddings are uniform random unit vectors with
    # uniform labels: no label or cluster structure
    nv = s["vectors"]
    x = rng.normal(size=(nv, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, nv * DIM + 1, DIM, dtype=np.int32)), pa.array(x.reshape(-1))),
        "label": pa.array(rng.integers(0, LABELS, nv).astype(np.int32)),
    }), f"{out}/embeddings.parquet")
    props.update(
        docs=nd, replicas=reps, docs_per_replica=per, spool_files=nf,
        vocab=reps * (len(VOCAB) - len(STOPWORDS & set(VOCAB)) + 1) + len(STOPWORDS & set(VOCAB)),
        dup_docs=int(nd - len(fam)),
        family_size_max=int(fam.max()),
        family_pair_count=int((fam * (fam - 1) // 2).sum()),
        vectors=nv, dim=DIM)


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out`; return props."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out, exist_ok=True)
    # one stream per (workload, seed): workloads never share draws
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    s = SIZES[workload]
    props = {"workload": workload, "seed": seed}
    if workload in ("ref_etl", "graph_iter"):
        last_us = person_graph(rng, out, s, props)
        if workload == "ref_etl":
            increments(rng, out, s, props, last_us)
            # teams are nations (Tables.teamMembers); queried in seeded order
            props["hop_teams"] = [f"N{int(t)}" for t in rng.permutation(25)]
    else:
        corpus(rng, out, s, props)
    props["input_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet"))
    return props
