"""Correctness check of one run's outputs with DuckDB, on the run's own
generated inputs. Runs once per invocation, after the timed passes.

Each check returns (name, ok, detail). Registered calls compare the row
count and an order-independent digest against `SparkEntry.oracleSql`
(the SQL is dumped by the JVM, so it is the checkout's own oracle). On
`ref_etl` the final merged edge state, the RDF triple multiset, every
hop set and the hop-query response document are checked against SQL
written here from the reference semantics.
"""
import collections
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import re

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings")


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time, decimal.Decimal)):
        return str(v)
    return str(v)


def digest(cols, rows):
    """(sorted column names, row count, sha256 of the sorted rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(norm).encode()).hexdigest()
    return [cols[i] for i in order], len(norm), h


def materialized(sql):
    """Evaluate every plain CTE once. DuckDB 1.0 inlines a CTE at each
    reference, so the oracles' chained CTEs re-run their upstream per
    use (and per recursion step); materializing changes the cost, not
    the result."""
    return re.sub(r"(?m)^(WITH (?:RECURSIVE )?)?(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _spark(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return rel.columns, rel.fetchall()


def compare(name, spark_cols_rows, oracle_cols_rows):
    s = digest(*spark_cols_rows)
    o = digest(*oracle_cols_rows)
    if s == o:
        return name, True, f"{s[1]} rows"
    return name, False, f"spark cols={s[0]} rows={s[1]} vs oracle cols={o[0]} rows={o[1]}"


def _guard(fn):
    def run(*a):
        try:
            return fn(*a)
        except Exception as e:  # a crashed check is a failed check
            return [(fn.__name__, False, f"exception: {e}")]
    return run


@_guard
def oracle_checks(con, out, names):
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    res = []
    for n in names:
        o = con.sql(materialized(sqls[n]))
        res.append(compare(n, _spark(con, os.path.join(out, "check", n)),
                           (o.columns, o.fetchall())))
    return res


@_guard
def ingest_check(con, out, pairs_dir):
    """fuzzyIngest over every micro-batch must find exactly the pairs of
    the batch near-dup oracle over the whole corpus: the `d_incr_near_dup`
    oracle without its new-docs restriction (same shingle size, bands,
    rows per band and threshold as fuzzyIngest's defaults)."""
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))["d_incr_near_dup"]
    restriction = "\n  WHERE l.doc_id % 5 = 0 OR r.doc_id % 5 = 0)"
    if restriction not in sql:
        return [("ingest_pairs", False, "d_incr_near_dup oracle changed shape")]
    o = con.sql(materialized(sql.replace(restriction, ")")))
    files = sorted(glob.glob(os.path.join(pairs_dir, "*.parquet")))
    s = con.sql(f"SELECT DISTINCT * FROM read_parquet({files!r})")
    return [compare("ingest_pairs", (s.columns, s.fetchall()), (o.columns, o.fetchall()))]


DOCS_SQL = """SELECT l_shipdate AS last_update,
         'C' || CAST(o_custkey AS VARCHAR) AS from_person_id,
         'S' || CAST(l_suppkey AS VARCHAR) AS to_person_id,
         CAST(l_quantity AS INT) AS raw_score_in,
         CAST(l_partkey % 100 AS INT) AS raw_score_out
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""


@_guard
def ref_etl_checks(con, data, out, props, written, teams):
    res = []
    # RDF triple multiset against the pipe_bulk_triples oracle
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))["pipe_bulk_triples"]
    want = collections.Counter(r[0] for r in con.sql(materialized(sql)).fetchall())
    got = collections.Counter()
    for f in sorted(glob.glob(os.path.join(written["rdf"], "part-*"))):
        with open(f, encoding="utf-8") as fh:
            got.update(line.rstrip("\n") for line in fh)
    res.append(("rdf_triples", got == want, f"{sum(got.values())} triples"))

    # final merged state: history + every batch past its watermark, max-merged
    parts = [DOCS_SQL]
    for b, wm in enumerate(props["watermarks_us"]):
        p = os.path.join(data, f"incr_{b:03d}.parquet")
        parts.append(
            f"SELECT last_update, from_person_id, to_person_id, stats.raw_score_in, "
            f"stats.raw_score_out FROM read_parquet('{p}') "
            f"WHERE last_update >= make_timestamp({wm})")
    con.execute("CREATE OR REPLACE TEMP TABLE all_docs AS " + " UNION ALL ".join(parts))
    con.execute("""CREATE OR REPLACE TEMP TABLE state AS
        SELECT src, dst, MAX(score) AS score FROM (
          SELECT from_person_id AS src, to_person_id AS dst,
                 CAST(raw_score_in AS DOUBLE) AS score FROM all_docs
          UNION ALL
          SELECT to_person_id, from_person_id, CAST(raw_score_out AS DOUBLE) FROM all_docs)
        GROUP BY src, dst""")
    st = con.sql(f"SELECT src, dst, score FROM read_parquet("
                 f"{sorted(glob.glob(os.path.join(written['state'], '*.parquet')))!r})")
    ok = con.sql("SELECT * FROM state")
    res.append(compare("merged_state", (st.columns, st.fetchall()), (ok.columns, ok.fetchall())))

    # hop sets: persons at exactly two hops from the team, per-hop exclusion
    for t in teams:
        con.execute(f"""CREATE OR REPLACE TEMP TABLE seeds AS
            SELECT DISTINCT 'C' || CAST(c_custkey AS VARCHAR) AS p FROM customer
            WHERE 'N' || CAST(c_nationkey AS VARCHAR) = '{t}'""")
        con.execute("""CREATE OR REPLACE TEMP TABLE hop1 AS
            SELECT DISTINCT dst AS p FROM state WHERE src IN (SELECT p FROM seeds)
            EXCEPT SELECT p FROM seeds""")
        con.execute("""CREATE OR REPLACE TEMP TABLE hop2 AS
            SELECT DISTINCT dst AS p FROM state WHERE src IN (SELECT p FROM hop1)
            AND dst NOT IN (SELECT p FROM hop1) AND dst NOT IN (SELECT p FROM seeds)""")
        want2 = {r[0] for r in con.sql("SELECT p FROM hop2").fetchall()}
        d = os.path.join(out, "check", f"hop_{t}")
        if os.path.isdir(d):
            cols, rows = _spark(con, d)
            got2 = {r[0] for r in rows}
            res.append((f"hop_{t}", got2 == want2 and len(rows) == len(got2),
                        f"{len(rows)} persons"))
        d = os.path.join(out, "check", f"hopjson_{t}")
        if os.path.isdir(d):
            doc = json.loads(_spark(con, d)[1][0][0])
            conn = collections.defaultdict(set)
            for h1, p in con.sql(
                    "SELECT src, dst FROM state WHERE src IN (SELECT p FROM hop1) "
                    "AND dst NOT IN (SELECT p FROM hop1) "
                    "AND dst NOT IN (SELECT p FROM seeds)").fetchall():
                conn[h1].add(p)
            want1 = {r[0] for r in con.sql("SELECT p FROM hop1").fetchall()}
            got1 = {h["person_id"]: {c["person_id"] for c in h["has_connection"]}
                    for h in doc["hop1_count"]}
            ok1 = set(got1) == want1 and all(got1[h] == conn.get(h, set()) for h in got1)
            ok2 = {h["person_id"] for h in doc["hop2_count"]} == want2
            res.append((f"hopjson_{t}", ok1 and ok2, f"{len(got1)} hop-1 persons"))
    return res


def run_checks(workload, data, out, props, written):
    """Every check of one run; the registered calls are the ones whose
    oracle SQL the JVM dumped."""
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = list(json.load(fh))
    con = connect(data)
    if workload == "ref_etl":
        teams = sorted(n[4:] for n in os.listdir(os.path.join(out, "check"))
                       if n.startswith("hop_"))
        return (oracle_checks(con, out, [n for n in oracles if n != "pipe_bulk_triples"])
                + ref_etl_checks(con, data, out, props, written, teams))
    if workload == "curation":
        return (oracle_checks(con, out, [n for n in oracles if n != "d_incr_near_dup"])
                + ingest_check(con, out, written["ingest_pairs"]))
    return oracle_checks(con, out, oracles)
