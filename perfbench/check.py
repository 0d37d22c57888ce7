"""Result checks, run after the JVM has exited (never inside a timed
region).

* Queries: the warm-up result of each query, written as parquet, must
  equal the query's oracle SQL run by DuckDB over the same inputs
  (columns sorted by name, rows sorted, values compared as strings).
  Every timed run of the query must then carry the same result digest
  as that checked warm-up run.
* Transactional workload: the executed statements are replayed in
  order in DuckDB.  Every read must return the replay's rows, and the
  table's final contents must equal the replay's final table.

Each check returns the set of op sequence numbers that failed, plus
messages for stderr.
"""
import glob
import json
import os

import duckdb

import stats



def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _frame_rows(df):
    df = df[sorted(df.columns)]
    return sorted(map(tuple, df.astype(str).values.tolist())), list(df.columns)


def queries(result, out_dir, data_dir):
    bad, msgs = set(), []
    oracle = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = _connect()
    for d in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(d)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/*.parquet'")
    ops = result["ops"]
    checked = {}
    for r in ops:
        if r["timed"] or not r["ok"]:
            continue
        files = glob.glob(os.path.join(out_dir, "results", r["name"], "*.parquet"))
        try:
            s, scols = _frame_rows(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            o, ocols = _frame_rows(con.execute(oracle[r["payload"]]).fetchdf())
            ok = scols == ocols and s == o
            if not ok:
                msgs.append(f"{r['name']}: result differs from the oracle "
                            f"({len(s)} rows vs {len(o)})")
        except Exception as e:  # noqa: BLE001 - any failure fails the op
            ok = False
            msgs.append(f"{r['name']}: oracle check failed: {e}")
        if ok:
            checked[r["name"]] = r["digest"]
    for r in ops:
        if r["timed"] and (not r["ok"] or checked.get(r["name"]) != r["digest"]):
            bad.add(r["seq"])
            msgs.append(f"{r['name']} (op {r['seq']}): "
                        + (r["err"] or "digest differs from the checked result"))
    return bad, msgs


def txn(result, plan_ops, out_dir, table):
    """plan_ops: the workload's op dicts in plan order; the runner's
    records are matched to them by (phase, group, name)."""
    bad, msgs = set(), []
    duck = {(o["phase"], o["group"], o["name"]): o["duck"] for o in plan_ops
            if o["phase"] != "warm" and o["kind"] != "conf"}
    con = _connect()
    rows_written = {}
    for r in result["ops"]:
        if not r["timed"]:
            continue
        steps = duck[(r["phase"], r["group"], r["name"])]
        if not r["ok"]:
            bad.add(r["seq"])
            msgs.append(f"{r['name']} (op {r['seq']}): {r['err']}")
            break  # the replay cannot follow a failed statement
        if r["kind"] == "read":
            want = con.execute(steps[0]).fetchall()
            got = [x.split("|") for x in r["rows"]]
            if stats.rows_digest(want) != stats.rows_digest(got):
                bad.add(r["seq"])
                msgs.append(f"{r['name']} (op {r['seq']}): got {got[:3]}, want {want[:3]}")
        else:
            n = 0
            for sql in steps:
                res = con.execute(sql).fetchall()
                if res and len(res[0]) == 1 and isinstance(res[0][0], int) \
                        and not sql.startswith("CREATE"):
                    n += res[0][0]
            rows_written[r["seq"]] = n
    final = glob.glob(os.path.join(out_dir, "final", "*.parquet"))
    final_rows = con.execute(f"SELECT count(*) FROM read_parquet({final!r})").fetchone()[0]
    if not bad:
        cols = "k, day, qty, price, note"
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {cols} FROM {table} EXCEPT ALL "
            f"SELECT {cols} FROM read_parquet({final!r})) UNION ALL "
            f"(SELECT {cols} FROM read_parquet({final!r}) EXCEPT ALL "
            f"SELECT {cols} FROM {table}))").fetchone()[0]
        if diff:
            last = max(r["seq"] for r in result["ops"])
            bad.add(last)
            msgs.append(f"final table differs from the replay in {diff} rows")
    return bad, msgs, rows_written, final_rows
