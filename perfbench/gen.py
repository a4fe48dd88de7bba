"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. Next to the tables each workload directory
holds ``manifest.json``, which records what was planted (duplicate rows,
near-duplicate clusters, shared spans, eval overlaps) so the output checks
can test the program's results against it. The program itself only ever
sees the parquet files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# battery_mix reads fixed tables: the seed does not apply to it
BATTERY_SEED = 20240101
# input sizes (see README.md for how they were chosen)
ETL_SF = 0.05
CURATION_DOCS = 400
INGEST_BATCHES, INGEST_BATCH_DOCS = 2, 400
BATTERY_SF = 0.005


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def vocabulary(rng, size):
    """Distinct lowercase pseudo-words (a-z only), so every tokenizer the
    program or the checks use splits the same way."""
    onsets = list("bcdfghjklmnprstvwz") + ["br", "ch", "cl", "dr", "gr", "pl", "sh", "st", "th", "tr"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
    codas = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st"]
    words = set()
    while len(words) < size:
        n = int(rng.integers(1, 4))
        w = "".join(onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))]
                    for _ in range(n)) + codas[rng.integers(len(codas))]
        words.add(w)
    return np.array(sorted(words))


# English stop words lead the frequency ranking, so documents pass the
# Gopher rules (at least two stop words, mean word length 3..10)
STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "that", "for", "it"]


class Words:
    """Zipf-weighted token draws over a fixed vocabulary."""

    def __init__(self, rng, size=6000):
        self.rng = rng
        self.vocab = np.array(STOPWORDS + [w for w in vocabulary(rng, size) if w not in STOPWORDS])
        size = len(self.vocab)
        w = 1.0 / np.arange(1, size + 1) ** 0.9
        self.p = w / w.sum()

    def tokens(self, n):
        return list(self.vocab[self.rng.choice(len(self.vocab), size=n, p=self.p)])

    def substitute(self, toks, n_subs):
        """A copy of `toks` with `n_subs` positions replaced by other words
        (positions away from the ends, so every edit costs whole shingles)."""
        out = list(toks)
        pos = self.rng.choice(np.arange(5, len(out) - 5), size=n_subs, replace=False)
        for p in pos:
            w = out[p]
            while w == out[p]:
                w = self.vocab[self.rng.integers(len(self.vocab))]
            out[p] = w
        return out


# ---------------------------------------------------------------- relational

def tpch_like(rng, sf, junk=False):
    """lineitem / orders / customer shaped like TPC-H at scale factor `sf`.
    With `junk`, three lineitem numeric columns arrive as strings carrying
    unparseable values and nulls, and about 1% of rows are exact
    duplicates of other rows (the dirty-ingest shape a YAML batch
    pipeline cleans)."""
    n_orders = int(1_500_000 * sf)
    n_cust = max(100, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    lines = rng.integers(1, 8, size=n_orders)
    l_orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    n = len(l_orderkey)
    starts = np.cumsum(lines) - lines
    l_linenumber = (np.arange(n) - np.repeat(starts, lines) + 1).astype(np.int32)
    l_partkey = rng.integers(1, n_part + 1, size=n).astype(np.int64)
    l_suppkey = rng.integers(1, n_supp + 1, size=n).astype(np.int64)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * (900 + (l_partkey % 1000) / 10.0), 2)
    disc = rng.integers(0, 11, size=n) / 100.0
    tax = rng.integers(0, 9, size=n) / 100.0
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, size=n)]
    day0 = np.datetime64("1992-01-02")
    ship = day0 + rng.integers(0, 2400, size=n).astype("timedelta64[D]")
    o_custkey = rng.integers(1, n_cust + 1, size=n_orders).astype(np.int64)
    o_total = np.round(rng.uniform(800, 500_000, size=n_orders), 2)
    o_date = day0 + rng.integers(0, 2400, size=n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": o_custkey,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_orders)],
        "o_totalprice": o_total,
        "o_orderdate": pa.array(o_date, type=pa.date32()),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, size=n_orders)],
    })
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": np.char.add("Customer#", np.arange(1, n_cust + 1).astype(str)),
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, size=n_cust)],
    })
    cols = {
        "l_orderkey": l_orderkey, "l_partkey": l_partkey, "l_suppkey": l_suppkey,
        "l_linenumber": l_linenumber,
    }
    if not junk:
        cols.update({"l_quantity": qty, "l_extendedprice": price, "l_discount": disc,
                     "l_tax": tax, "l_returnflag": flag, "l_linestatus": status,
                     "l_shipdate": pa.array(ship.astype("datetime64[us]"), type=pa.timestamp("us"))})
        return pa.table(cols), orders, customer, {}
    bad_values = np.array(["n/a", "?", "", "#N/A", "1.2.3", "null"])

    def dirty(vals, fmt):
        s = np.array([fmt % v for v in vals.tolist()], dtype=object)
        r = rng.random(n)
        bad = r < 0.01
        s[bad] = bad_values[rng.integers(0, len(bad_values), size=int(bad.sum()))]
        s[(r >= 0.01) & (r < 0.015)] = None
        return s, int(bad.sum())

    q_s, q_bad = dirty(qty, "%.0f")
    p_s, p_bad = dirty(price, "%.2f")
    d_s, d_bad = dirty(disc, "%.2f")
    cols.update({
        "l_quantity": pa.array(q_s, type=pa.string()),
        "l_extendedprice": pa.array(p_s, type=pa.string()),
        "l_discount": pa.array(d_s, type=pa.string()),
        "l_tax": tax, "l_returnflag": flag, "l_linestatus": status,
        "l_shipdate": pa.array(ship, type=pa.date32()),
    })
    base = pa.table(cols)
    dup_idx = rng.choice(n, size=n // 100, replace=False)
    order = rng.permutation(n + len(dup_idx))
    full = pa.concat_tables([base, base.take(pa.array(dup_idx))]).take(pa.array(order))
    planted = {"rows": int(full.num_rows), "duplicate_rows": int(len(dup_idx)),
               "unparseable": {"l_quantity": q_bad, "l_extendedprice": p_bad, "l_discount": d_bad}}
    return full, orders, customer, planted


def gen_etl(seed, out):
    rng = np.random.default_rng([seed, 1])
    lineitem, orders, customer, planted = tpch_like(rng, ETL_SF, junk=True)
    _write(lineitem, os.path.join(out, "lineitem_raw.parquet"))
    _write(orders, os.path.join(out, "orders.parquet"))
    _write(customer, os.path.join(out, "customer.parquet"))
    return planted


# ---------------------------------------------------------------- documents

LANGS = np.array(["en", "en", "en", "en", "de", "fr", "es", "zh"])


def gen_curation(seed, out):
    """A replica corpus for the training-data pipeline, with planted exact
    copies, near-duplicate clusters (one substituted token per member, a
    3-shingle Jaccard of about 0.97 to the cluster's base, where MinHash-LSH
    misses are negligible), groups of documents sharing one long span, and
    documents that embed an eval-set passage."""
    rng = np.random.default_rng([seed, 2])
    words = Words(rng)
    docs = []  # (text tokens, kind)
    planted = {"exact_copies": [], "near_dup_clusters": [], "shared_span_groups": [],
               "eval_overlap": [], "min_span_tokens": 50}

    def add(toks):
        docs.append(toks)
        return len(docs) - 1

    n = CURATION_DOCS
    for _ in range(n):
        add(words.tokens(int(rng.integers(80, 260))))
    for _ in range(n // 12):  # exact copies of existing documents
        src = int(rng.integers(0, n))
        planted["exact_copies"].append([src, add(list(docs[src]))])
    for _ in range(n // 25):  # near-duplicate clusters
        base = words.tokens(int(rng.integers(160, 260)))
        members = [add(base)] + [add(words.substitute(base, 1)) for _ in range(int(rng.integers(2, 5)))]
        planted["near_dup_clusters"].append(members)
    for _ in range(n // 20):  # groups sharing one 60-token span
        span = words.tokens(60)
        group = []
        for _ in range(int(rng.integers(2, 4))):
            pre, post = words.tokens(int(rng.integers(20, 90))), words.tokens(int(rng.integers(20, 90)))
            group.append(add(pre + span + post))
        planted["shared_span_groups"].append(group)
    evals = [words.tokens(int(rng.integers(60, 90))) for _ in range(n // 12)]
    for e in evals[:n // 25]:  # each planted passage sits in exactly one document
        pre, post = words.tokens(int(rng.integers(30, 70))), words.tokens(int(rng.integers(10, 40)))
        planted["eval_overlap"].append(add(pre + e + post))
    for _ in range(n // 25):  # too short for the word-count rule
        add(words.tokens(int(rng.integers(10, 40))))
    template = words.tokens(6)
    for _ in range(n // 40):  # templated, low-surprise text
        add(template * int(rng.integers(12, 30)))

    # doc ids are a seeded permutation, so planted rows are not id-ordered
    n = len(docs)
    ids = rng.permutation(np.arange(1, n + 1, dtype=np.int64) * 7)
    texts = [" ".join(t) for t in docs]
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), size=n)],
        "source": np.char.add("src", rng.integers(0, 10, size=n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(table, os.path.join(out, "documents.parquet"))
    _write(pa.table({"text": [" ".join(e) for e in evals]}), os.path.join(out, "benchmark.parquet"))

    def remap(v):
        return [remap(x) for x in v] if isinstance(v, list) else int(ids[v])
    for k in ("exact_copies", "near_dup_clusters", "shared_span_groups", "eval_overlap"):
        planted[k] = remap(planted[k])
    planted["documents"] = n
    return planted


def gen_ingest(seed, out, n_batches=INGEST_BATCHES, batch_docs=INGEST_BATCH_DOCS):
    """Document batches for the stream drains. Batch k carries fresh
    distinct documents plus exact copies and one-token near-duplicates of
    documents from batches <= k (so duplicates arrive both inside a batch
    and across drains), and a few empty texts the scan filter drops."""
    rng = np.random.default_rng([seed, 3])
    words = Words(rng)
    planted = {"batches": [], "clusters": [], "distinct": []}
    next_id = 1
    pool = []  # (doc_id, tokens, cluster index) of admitted-eligible originals
    for b in range(n_batches):
        rows = []
        n_fresh = int(batch_docs * 0.7)
        for _ in range(n_fresh):
            toks = words.tokens(int(rng.integers(120, 240)))
            cid = len(planted["clusters"])
            planted["clusters"].append([next_id])
            rows.append((next_id, toks, cid))
            next_id += 1
        fresh_pool = pool + rows
        n_dup = batch_docs - n_fresh - 10
        for _ in range(n_dup):
            src_id, src_toks, cid = fresh_pool[int(rng.integers(0, len(fresh_pool)))]
            toks = list(src_toks) if rng.random() < 0.5 else words.substitute(src_toks, 1)
            planted["clusters"][cid].append(next_id)
            rows.append((next_id, toks, cid))
            next_id += 1
        empties = list(range(next_id, next_id + 10))
        next_id += 10
        pool = fresh_pool
        order = rng.permutation(len(rows) + len(empties))
        all_rows = [(r[0], " ".join(r[1])) for r in rows] + [(i, "") for i in empties]
        all_rows = [all_rows[i] for i in order]
        table = pa.table({
            "doc_id": np.array([r[0] for r in all_rows], dtype=np.int64),
            "text": [r[1] for r in all_rows],
            "source": np.char.add("feed", rng.integers(0, 4, size=len(all_rows)).astype(str)),
        })
        name = f"batch_{b:02d}.parquet"
        _write(table, os.path.join(out, name))
        planted["batches"].append(name)
    planted["distinct"] = [c[0] for c in planted["clusters"] if len(c) == 1]
    planted["clusters"] = [c for c in planted["clusters"] if len(c) > 1]
    return planted


# ---------------------------------------------------------------- battery

def gen_battery(out, sf=BATTERY_SF):
    """The battery tables (lineitem, events, embeddings, documents) with
    the schemas of the program's sf testdata, at a fixed seed."""
    rng = np.random.default_rng(BATTERY_SEED)
    lineitem, _, _, _ = tpch_like(rng, sf)
    _write(lineitem, os.path.join(out, "lineitem.parquet"))
    n_ev = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, size=n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(1, n_users + 1, size=n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, size=n_ev)],
        "value": np.round(rng.uniform(0, 50, size=n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n_ev).astype(str)), "}"),
    })
    _write(events, os.path.join(out, "events.parquet"))
    n_emb = int(50_000 * sf)
    centers = rng.normal(size=(16, 64))
    label = rng.integers(0, 16, size=n_emb)
    emb = (centers[label] + rng.normal(scale=0.35, size=(n_emb, 64))).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), os.path.join(out, "embeddings.parquet"))
    n_docs = int(50_000 * sf)
    small = np.array("a the data spark table row column value key join group sort filter scan "
                     "query batch stream window agg merge hash part line order customer fast "
                     "slow big small vector".split())
    texts = [" ".join(small[rng.integers(0, len(small), size=int(rng.integers(20, 80)))])
             for _ in range(n_docs)]
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), size=n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"))
    return {"sf": sf, "lineitem": lineitem.num_rows, "events": n_ev, "embeddings": n_emb,
            "documents": n_docs}


GENERATORS = {
    "etl_relational": gen_etl,
    "curation_batch": gen_curation,
    "ingest_stream": gen_ingest,
}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into `out` (created) and
    return the manifest. battery_mix ignores the seed."""
    os.makedirs(out, exist_ok=True)
    planted = gen_battery(out) if workload == "battery_mix" else GENERATORS[workload](seed, out)
    manifest = {"workload": workload, "seed": None if workload == "battery_mix" else seed,
                "planted": planted}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: (v if not isinstance(v, list) else len(v)) for k, v in m["planted"].items()}))
