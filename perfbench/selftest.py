#!/usr/bin/env python3
"""Shows that every output check fails on a deliberately corrupted output.

    python3 perfbench/selftest.py WORKLOAD [--seed N]

Runs the workload once (a short run whose work directory is kept), checks
that its real outputs pass, then copies one operation's outputs, corrupts
the copy in one way at a time, and checks that the output check rejects
each corruption. Prints one line per case and exits non-zero if a
corrupted output passed or the real one failed.
"""
import argparse
import copy
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute  # noqa: F401
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402

BUILD = os.path.join(os.getcwd(), ".bench_build")


def first_file(d):
    return checks.parquet_glob(d)[0]


def edit(d, fn):
    """Rewrite the first data file under `d` as fn(table)."""
    f = first_file(d)
    pq.write_table(fn(pq.read_table(f, partitioning=None)), f)


def with_rows(table, rows):
    """`table` plus rows made from its first row with `rows` (dicts of
    column -> value) laid over it."""
    base = table.slice(0, 1).to_pylist()[0]
    extra = pa.Table.from_pylist([{**base, **r} for r in rows], schema=table.schema)
    return pa.concat_tables([table, extra])


def set_value(table, column, i, value):
    vals = table.column(column).to_pylist()
    vals[i] = value
    return table.set_column(table.schema.get_field_index(column), column,
                            pa.array(vals, type=table.schema.field(column).type))


def drop_row(table, i=0):
    return pa.concat_tables([table.slice(0, i), table.slice(i + 1)])


def cases(workload, inputs, manifest, ops):
    """(name, op index, corruption(op copy) -> op list to check)."""
    p = manifest.get("planted", {})
    if workload == "etl_relational":
        return [
            ("summary: one revenue sum off by 1.0", "pipeline",
             lambda o: edit(o["outputs"]["summary"],
                            lambda t: set_value(t, "revenue_sum", 0, t.column("revenue_sum")[0].as_py() + 1.0))),
            ("summary: one group missing", "pipeline", lambda o: edit(o["outputs"]["summary"], drop_row)),
            ("dag: a row missing from the positive sink", "dag",
             lambda o: edit(o["outputs"]["positive"], drop_row)),
            ("dag: a positive row written to the negative sink too", "dag",
             lambda o: edit(o["outputs"]["negative"], lambda t: with_rows(
                 t, [pq.read_table(first_file(o["outputs"]["positive"])).slice(0, 1).to_pylist()[0]]))),
        ]
    if workload == "curation_batch":
        docs = pq.read_table(os.path.join(inputs, "documents.parquet")).to_pylist()
        text_of = {d["doc_id"]: d["text"] for d in docs}

        def out_ids(o):
            con = checks.duckdb.connect()
            ids = set(checks.read_spark(con, o["outputs"]["cleaned"], hive=True).df()["doc_id"])
            con.close()
            return ids

        def add(o, rows):
            edit(o["outputs"]["cleaned"], lambda t: with_rows(t, rows))

        def unused(o, k=1):
            used = out_ids(o)
            return [i for i in text_of if i not in used][:k]

        def shared_span(o):
            t = pq.read_table(first_file(o["outputs"]["cleaned"]))
            words = t.column("text")[0].as_py().split()
            i = unused(o)[0]
            add(o, [{"doc_id": i, "text": " ".join(words[:60] + ["zzqx"] * 5)}])

        cluster = p["near_dup_clusters"][0]
        return [
            ("an id that is not an input id", "pipeline",
             lambda o: add(o, [{"doc_id": -7, "text": "a fresh text no other row has"}])),
            ("two survivors with the same text", "pipeline",
             lambda o: edit(o["outputs"]["cleaned"], lambda t: with_rows(
                 t, [{"doc_id": unused(o)[0], "text": t.column("text")[0].as_py()}]))),
            ("two survivors from one near-duplicate cluster", "pipeline",
             lambda o: add(o, [{"doc_id": i, "text": text_of[i]} for i in cluster[:2]])),
            ("a planted eval-overlap document survives", "pipeline",
             lambda o: add(o, [{"doc_id": p["eval_overlap"][0], "text": text_of[p["eval_overlap"][0]]}])),
            ("two survivors share a 60-token span", "pipeline", shared_span),
            ("a repetition differs from the first", "pipeline",
             lambda o: edit(o["outputs"]["cleaned"], drop_row)),
        ]
    if workload == "ingest_stream":
        def corpus(o):
            return os.path.join(o["outputs"]["corpus"], o["info"]["corpus_batches"].split(",")[0])

        def second_member(o):
            """a staged member of a cluster that already has an admitted doc"""
            con = checks.duckdb.connect()
            files = [f for b in o["info"]["corpus_batches"].split(",")
                     for f in checks.parquet_glob(os.path.join(o["outputs"]["corpus"], b))]
            admitted = set(con.read_parquet(files).df()["doc_id"])
            con.close()
            return next(m for c in p["clusters"] if admitted & set(c)
                        for m in c if m not in admitted)
        return [
            ("two docs of one near-duplicate cluster admitted", "drain_1",
             lambda o: edit(corpus(o), lambda t: with_rows(t, [{"doc_id": second_member(o)}]))),
            ("a planted distinct doc not admitted", "drain_0",
             lambda o: edit(corpus(o), lambda t: t.filter(pa.compute.invert(pa.compute.is_in(
                 t.column("doc_id"), value_set=pa.array(p["distinct"], type=pa.int64())))))),
            ("an id that was never staged admitted", "drain_0",
             lambda o: edit(corpus(o), lambda t: with_rows(t, [{"doc_id": -5}]))),
        ]
    return [
        (f"{q}: one value changed", q,
         lambda o: edit(o["outputs"]["result"], lambda t: set_value(
             t, t.column_names[-1], 0, _other(t.column(t.column_names[-1])[0].as_py()))))
        for q in ("q_pagerank", "q_kmv_distinct", "q_funnel")
    ] + [("q_cohort_retention: one row missing", "q_cohort_retention",
          lambda o: edit(o["outputs"]["result"], drop_row))]


def _other(v):
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    return f"{v}x"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                    "--seed", str(a.seed), "--seconds", "1", "--trace", "0", "--keep"],
                   check=True, stdout=subprocess.DEVNULL)
    work = max(glob.glob(os.path.join(BUILD, "work", f"{a.workload}-*")), key=os.path.getmtime)
    with open(os.path.join(work, "result_main.json")) as f:
        res = json.load(f)
    warm = res["rounds"][1]["ops"]
    key = "fixed" if a.workload == "battery_mix" else str(a.seed)
    inputs = max(glob.glob(os.path.join(BUILD, "inputs", a.workload, f"{key}-*")), key=os.path.getmtime)
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    extras = res.get("extras", {})
    bad = 0
    real = checks.check(a.workload, inputs, manifest, warm, extras)
    print(f"real outputs: {'pass' if all(ok for ok, _ in real) else 'FAIL ' + str(real)}")
    bad += not all(ok for ok, _ in real)
    for i, (name, op_name, corrupt) in enumerate(cases(a.workload, inputs, manifest, warm)):
        op = copy.deepcopy(next(o for o in warm if o["name"] == op_name))
        for k, d in list(op["outputs"].items()):
            dst = os.path.join(work, "corrupt", str(i), k)
            shutil.copytree(d, dst)
            op["outputs"][k] = dst
        corrupt(op)
        # the repetition check compares against the first operation checked
        ops = [next(o for o in warm if o["name"] == op_name), op]
        verdict = checks.check(a.workload, inputs, manifest, ops, extras)[1]
        print(f"{'rejected' if not verdict[0] else 'ACCEPTED'}: {name}"
              + (f" ({verdict[1][:100]})" if not verdict[0] else ""))
        bad += verdict[0]
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
