"""Output checks: every operation's output is tested against a computation
made apart from the program (DuckDB SQL over the generated inputs, or the
properties the generator planted). `check(...)` returns one verdict per
operation; an operation whose check fails counts as failed.
"""
import datetime
import glob
import hashlib
import math
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

# -------------------------------------------------------------- helpers


def parquet_glob(path):
    """Every data file under a Spark output directory (any partition depth)."""
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
             if "/." not in f[len(path):] and "/_" not in f[len(path):]]
    return sorted(files)


def read_spark(con, path, hive=False):
    files = parquet_glob(path)
    if not files:
        raise AssertionError(f"no output files under {os.path.relpath(path)}")
    return con.read_parquet(files, hive_partitioning=hive)


def data_files(path):
    """(files, bytes) of the data files a sink left under `path`."""
    n, b = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def verdicts(ops, fn):
    """Apply fn(op) to every operation that raised no error; a raised
    AssertionError (or any exception) fails the operation."""
    out = []
    for op in ops:
        if op.get("error"):
            out.append((False, "error: " + op["error"]))
            continue
        try:
            fn(op)
            out.append((True, ""))
        except Exception as e:  # a check that cannot read its output fails
            out.append((False, f"{type(e).__name__}: {e}"))
    return out


# -------------------------------------------------------------- etl_relational

ETL_SUMMARY_SQL = """
WITH src AS (SELECT * FROM read_parquet('{d}/lineitem_raw.parquet') WHERE l_linenumber <= 6),
c AS (SELECT * REPLACE (TRY_CAST(l_quantity AS DOUBLE) AS l_quantity,
                        TRY_CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                        TRY_CAST(l_discount AS DOUBLE) AS l_discount) FROM src),
f AS (SELECT * REPLACE (coalesce(l_quantity, 0.0) AS l_quantity,
                        coalesce(l_discount, 0.0) AS l_discount) FROM c),
e AS (SELECT *, l_extendedprice * (1 - l_discount) AS revenue FROM f),
dd AS (SELECT DISTINCT * FROM e)
SELECT l_suppkey, l_returnflag, sum(l_quantity) AS l_quantity_sum,
       count(l_extendedprice) AS l_extendedprice_count,
       max(l_extendedprice) AS l_extendedprice_max, sum(revenue) AS revenue_sum
FROM dd GROUP BY ALL
"""

ETL_SPLIT_SQL = """
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate,
       o.o_orderpriority, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
FROM read_parquet('{d}/orders.parquet') o
JOIN read_parquet('{d}/customer.parquet') c ON c.c_custkey = o.o_custkey
WHERE o.o_totalprice > 1000 AND {cond}
"""
SPLIT_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
              "o_orderpriority, c_name, c_nationkey, c_acctbal, c_mktsegment")


def check_etl(con, inputs, manifest, ops):
    con.execute("CREATE OR REPLACE TABLE exp_summary AS " + ETL_SUMMARY_SQL.format(d=inputs))
    con.execute("CREATE OR REPLACE TABLE exp_positive AS "
                + ETL_SPLIT_SQL.format(d=inputs, cond="c.c_acctbal > 0"))
    con.execute("CREATE OR REPLACE TABLE exp_negative AS "
                + ETL_SPLIT_SQL.format(d=inputs, cond="NOT (c.c_acctbal > 0)"))

    def summary(path):
        read_spark(con, path, hive=True).create_view("got", replace=True)
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
        n_exp = con.execute("SELECT count(*) FROM exp_summary").fetchone()[0]
        assert n_got == n_exp, f"summary rows {n_got} != {n_exp}"
        bad = con.execute("""
            SELECT count(*) FROM exp_summary e LEFT JOIN got g
              ON g.l_suppkey = e.l_suppkey AND CAST(g.l_returnflag AS VARCHAR) = e.l_returnflag
            WHERE g.l_suppkey IS NULL
               OR g.l_extendedprice_count <> e.l_extendedprice_count
               OR g.l_extendedprice_max IS DISTINCT FROM e.l_extendedprice_max
               OR abs(g.l_quantity_sum - e.l_quantity_sum) > 1e-9 * greatest(1, abs(e.l_quantity_sum))
               OR abs(g.revenue_sum - e.revenue_sum) > 1e-9 * greatest(1, abs(e.revenue_sum))
        """).fetchone()[0]
        assert bad == 0, f"{bad} summary groups differ from the DuckDB rollup"

    def split(path, table):
        read_spark(con, path).create_view("got", replace=True)
        for a, b in (("got", table), (table, "got")):
            n = con.execute(f"SELECT count(*) FROM (SELECT {SPLIT_COLS} FROM {a} "
                            f"EXCEPT ALL SELECT {SPLIT_COLS} FROM {b})").fetchone()[0]
            assert n == 0, f"{os.path.basename(path)}: {n} rows of {a} missing from {b}"

    def one(op):
        o = op["outputs"]
        if op["name"] == "pipeline":
            summary(o["summary"])
        else:
            split(o["positive"], "exp_positive")
            split(o["negative"], "exp_negative")
    return verdicts(ops, one)


# -------------------------------------------------------------- curation_batch

def span_hashes(token_lists, n):
    """uint64 rolling hashes of every n-token window, with the document
    index of each window."""
    vocab = {}
    hs, owners = [], []
    powers = np.uint64(1000003) ** np.arange(n - 1, -1, -1, dtype=np.uint64)
    for i, toks in enumerate(token_lists):
        if len(toks) < n:
            continue
        ids = np.fromiter((vocab.setdefault(t, len(vocab) + 1) for t in toks), dtype=np.uint64,
                          count=len(toks))
        win = np.lib.stride_tricks.sliding_window_view(ids, n)
        h = (win * powers).sum(axis=1, dtype=np.uint64)
        hs.append(np.unique(h))
        owners.append(np.full(len(hs[-1]), i))
    if not hs:
        return np.array([], dtype=np.uint64), np.array([], dtype=np.int64)
    return np.concatenate(hs), np.concatenate(owners)


def check_curation(con, inputs, manifest, ops):
    planted = manifest["planted"]
    input_ids = set(con.execute(
        f"SELECT doc_id FROM read_parquet('{inputs}/documents.parquet')").df()["doc_id"].tolist())
    clusters = planted["near_dup_clusters"]
    evals = set(planted["eval_overlap"])
    n_span = planted["min_span_tokens"]
    digests = {}

    def one(op):
        df = read_spark(con, op["outputs"]["cleaned"], hive=True).df()[["doc_id", "text"]]
        ids = df["doc_id"].tolist()
        assert len(ids) > 0, "no document survived"
        assert len(set(ids)) == len(ids), "a doc_id survives twice"
        assert set(ids) <= input_ids, "output ids that are not input ids"
        assert df["text"].nunique() == len(df), "two survivors have the same text"
        survivors = set(ids)
        for c in clusters:
            k = len(survivors.intersection(c))
            assert k <= 1, f"{k} survivors from one near-duplicate cluster {c}"
        leaked = survivors & evals
        assert not leaked, f"eval-overlap documents survived: {sorted(leaked)[:5]}"
        h, owner = span_hashes([t.split() for t in df["text"]], n_span)
        order = np.argsort(h, kind="stable")
        hs, os_ = h[order], owner[order]
        same = (hs[1:] == hs[:-1]) & (os_[1:] != os_[:-1])
        assert not same.any(), f"{int(same.sum())} {n_span}-token spans shared by two survivors"
        key = hashlib.sha256(pd.util.hash_pandas_object(
            df.sort_values("doc_id").reset_index(drop=True), index=False).values.tobytes()).hexdigest()
        digests.setdefault("first", key)
        assert key == digests["first"], "output differs from the first repetition's"
    return verdicts(ops, one)


# -------------------------------------------------------------- ingest_stream

def check_ingest(con, inputs, manifest, ops):
    planted = manifest["planted"]
    batches = planted["batches"]
    clusters = planted["clusters"]
    distinct = set(planted["distinct"])
    staged_ids = []
    for k in range(len(batches)):
        files = ", ".join(f"'{inputs}/{b}'" for b in batches[:k + 1])
        staged_ids.append(set(con.execute(
            f"SELECT doc_id FROM read_parquet([{files}]) WHERE text <> ''").df()["doc_id"]))

    def one(op):
        k = int(op["name"].rsplit("_", 1)[1])
        base = op["outputs"]["corpus"]
        names = [b for b in op["info"].get("corpus_batches", "").split(",") if b]
        files = [f for b in names for f in parquet_glob(os.path.join(base, b))]
        assert files, "no admitted rows written"
        ids = con.read_parquet(files).df()["doc_id"].tolist()
        assert len(set(ids)) == len(ids), "a doc_id admitted twice"
        ids = set(ids)
        assert ids <= staged_ids[k], "admitted ids that were never staged (or have empty text)"
        for c in clusters:
            n = len(ids.intersection(c))
            assert n <= 1, f"{n} docs admitted from one near-duplicate cluster"
        missing = (distinct & staged_ids[k]) - ids
        assert not missing, f"{len(missing)} planted distinct docs not admitted"
    return verdicts(ops, one)


# -------------------------------------------------------------- battery_mix

BATTERY_TABLES = ["lineitem", "events", "embeddings", "documents"]


def cell(v):
    """Canonical string for one value, type-sensitive and unrounded: the
    rendering the program's own oracle comparison uses."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return "<NULL>"
        return ts.date().isoformat() if ts == ts.normalize() else ts.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon(df):
    df = df.rename(columns={c: c.lower() for c in df.columns})
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols, na_position="last", kind="mergesort")
    return cols, [tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]


def oracle_frame(con, inputs, name, sql):
    key = hashlib.sha256(f"{name}\n{sql}\n{duckdb.__version__}".encode()).hexdigest()[:20]
    path = os.path.join(inputs, f"oracle_{name}_{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def check_battery(con, inputs, manifest, ops, oracle_sql):
    for t in BATTERY_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    expected = {}

    def one(op):
        name = op["name"]
        sql = oracle_sql.get(name)
        assert sql, f"no oracle SQL registered for {name}"
        if name not in expected:
            expected[name] = canon(oracle_frame(con, inputs, name, sql))
        got = canon(pd.read_parquet(op["outputs"]["result"]))
        e_cols, e_rows = expected[name]
        assert got[0] == e_cols, f"columns {got[0]} != oracle {e_cols}"
        assert len(got[1]) == len(e_rows), f"rows {len(got[1])} != oracle {len(e_rows)}"
        diff = sum(1 for a, b in zip(got[1], e_rows) if a != b)
        assert diff == 0, f"{diff}/{len(e_rows)} rows differ from the oracle"
    return verdicts(ops, one)


def check(workload, inputs, manifest, ops, extras):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        if workload == "etl_relational":
            return check_etl(con, inputs, manifest, ops)
        if workload == "curation_batch":
            return check_curation(con, inputs, manifest, ops)
        if workload == "ingest_stream":
            return check_ingest(con, inputs, manifest, ops)
        return check_battery(con, inputs, manifest, ops, extras.get("oracle_sql", {}))
    finally:
        con.close()
