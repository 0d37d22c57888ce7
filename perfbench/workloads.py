"""The two workloads: which ops run, in what seeded order, on what
inputs.  Each workload function writes its inputs under the run directory and
returns the op list for the JVM runner (see scala/Runner.scala for the
plan format) plus what the checker needs to replay it.

An op is a dict: phase, group, kind, name, cls ("read" or "write"),
payload (what the JVM runs) and, for the transactional workload, duck
(the same step for the DuckDB replay).
"""
import os
import random

import gen

# Dedup, similarity and text ops: iterative and many-job.
# q_communities iterates label propagation over a Scratch artifact (the
# source graph, built in set-up); q_bpe_encode runs one eager job per
# merge round; the other two are one-pass dedup and similarity joins.
PIPELINE_QUERIES = ["q_communities", "q_bpe_encode", "q_dedup_minhash_pairs", "q_ann_lsh"]

WARM_THREADS = 4  # set-up runs the warm-up ops on this many threads


def op(phase, group, kind, name, cls, payload, duck=None):
    return {"phase": phase, "group": group, "kind": kind, "name": name,
            "cls": cls, "payload": payload, "duck": duck}


def pipeline(seed, run_dir):
    """Warm-up: every query once, spread over WARM_THREADS threads (its
    result is the one checked against the oracle).  Timed: every query
    once, in a seeded order."""
    names = PIPELINE_QUERIES
    data = os.path.join(run_dir, "data")
    gen.corpus(data, seed)
    rng = random.Random(seed)
    order = list(names)
    rng.shuffle(order)
    ops = [op("warm", i % WARM_THREADS, "query", n, "read", n) for i, n in enumerate(order)]
    rng.shuffle(order)
    ops += [op("loop", 0, "query", n, "read", n) for n in order]
    return ops, {"data": data}


TX_COLS = "k, day, qty, price, note"
TX_DDL_SPARK = ("CREATE TABLE {t} (k BIGINT, day INT, qty INT, price BIGINT, note STRING) "
                "USING `graft-tx` PARTITIONED BY (day) OPTIONS (path '{root}')")
TX_DDL_DUCK = "CREATE TABLE {t} (k BIGINT, day INTEGER, qty INTEGER, price BIGINT, note VARCHAR)"
POSITIONAL = "spark.graft.dml.positional"


def _lifecycle_round(rng, t, r, mode, phase, group, paths):
    """One round in one DML mode ("cow" or "pos"): insert, update,
    delete, merge, then a point read, a partition aggregate and a
    metadata aggregate that see the round's writes.  The order is fixed
    (each op's cost depends on the state the ops before it left); the
    seed picks keys, partitions, predicates and batches."""
    ins, mrg = paths[f"ins{r}"], paths[f"mrg{r}"]
    d1, d2, d3 = (rng.randrange(gen.TXN_DAYS) for _ in range(3))
    # fixed selectivities, so every seed asks for the same amount of work:
    # the update rewrites a quarter of one partition, the delete an eighth
    x1, x2 = rng.randrange(4), rng.randrange(8)
    key = rng.randrange(TXN_BASE_ROWS)
    sfx = "." + mode
    steps = [
        op(phase, group, "sql", "insert" + sfx, "write",
           f"INSERT INTO {t} SELECT {TX_COLS} FROM parquet.`{ins}`",
           [f"INSERT INTO {t} SELECT {TX_COLS} FROM read_parquet('{ins}')"]),
        op(phase, group, "read", "point" + sfx, "read",
           f"SELECT {TX_COLS} FROM {t} WHERE k = {key}",
           [f"SELECT {TX_COLS} FROM {t} WHERE k = {key}"]),
        op(phase, group, "read", "part_agg" + sfx, "read",
           f"SELECT day, count(*), sum(qty), sum(price) FROM {t} WHERE day = {d1} GROUP BY day",
           [f"SELECT day, count(*), sum(qty), sum(price) FROM {t} WHERE day = {d1} GROUP BY day"]),
        op(phase, group, "read", "meta" + sfx, "read",
           f"SELECT count(*), min(k), max(k) FROM {t}",
           [f"SELECT count(*), min(k), max(k) FROM {t}"]),
        op(phase, group, "sql", "update" + sfx, "write",
           f"UPDATE {t} SET qty = qty + 1, note = 'u{r}' WHERE day = {d2} AND k % 4 = {x1}",
           [f"UPDATE {t} SET qty = qty + 1, note = 'u{r}' WHERE day = {d2} AND k % 4 = {x1}"]),
        op(phase, group, "sql", "delete" + sfx, "write",
           f"DELETE FROM {t} WHERE day = {d3} AND k % 8 = {x2}",
           [f"DELETE FROM {t} WHERE day = {d3} AND k % 8 = {x2}"]),
        op(phase, group, "sql", "merge" + sfx, "write",
           f"MERGE INTO {t} t USING (SELECT {TX_COLS} FROM parquet.`{mrg}`) s ON t.k = s.k "
           "WHEN MATCHED THEN UPDATE SET t.qty = s.qty, t.price = s.price, t.note = s.note "
           "WHEN NOT MATCHED THEN INSERT *",
           # DuckDB 1.0 has no MERGE: the same effect as update + insert
           [f"UPDATE {t} SET qty = s.qty, price = s.price, note = s.note "
            f"FROM read_parquet('{mrg}') s WHERE {t}.k = s.k",
            f"INSERT INTO {t} SELECT {TX_COLS} FROM read_parquet('{mrg}') "
            f"WHERE k NOT IN (SELECT k FROM {t})"]),
    ]
    steps = steps[:1] + steps[4:] + steps[1:4]
    conf = op(phase, group, "conf", "mode", "none",
              f"{POSITIONAL}=" + ("true" if mode == "pos" else ""))
    return [conf] + steps


TXN_BASE_ROWS = 20000
TXN_INSERT_ROWS = 2000
TXN_MERGE_ROWS = 1000


def txn(seed, run_dir):
    """SQL lifecycle on a partitioned graft-tx table.

    warm: the lifecycle once per DML mode, each on a small table of its
    own.  pre: CREATE TABLE and the base load.  loop: a copy-on-write
    round, then a positional-delete round.  post:
    VERSION AS OF the base load, optimize_compact, vacuum, and a last
    metadata read."""
    rng = random.Random(seed)
    data = os.path.join(run_dir, "data")
    modes = ["cow", "pos"]
    paths = gen.txn_batches(os.path.join(data, "txn"), seed, TXN_BASE_ROWS, len(modes),
                            TXN_INSERT_ROWS, TXN_MERGE_ROWS)
    wpaths = gen.txn_batches(os.path.join(data, "warm"), seed + 1_000_003, 5000, 1,
                             TXN_INSERT_ROWS, TXN_MERGE_ROWS)
    root = os.path.join(run_dir, "tables", "tx")
    wroot = os.path.join(run_dir, "tables", "txw")

    def lifecycle(t, troot, phase_pre, phase_loop, phase_post, p, modes, group=0,
                  maintenance=True):
        ops = [op(phase_pre, group, "sql", "create", "write",
                  TX_DDL_SPARK.format(t=t, root=troot), [TX_DDL_DUCK.format(t=t)]),
               op(phase_pre, group, "sql", "insert_base", "write",
                  f"INSERT INTO {t} SELECT {TX_COLS} FROM parquet.`{p['base']}`",
                  [f"INSERT INTO {t} SELECT {TX_COLS} FROM read_parquet('{p['base']}')",
                   f"CREATE TABLE {t}_v_pre AS SELECT * FROM {t}"])]
        for r, mode in enumerate(modes):
            ops += _lifecycle_round(rng, t, r, mode, phase_loop, group, p)
        if not maintenance:
            return ops
        ops += [
            op(phase_post, group, "conf", "mode", "none", f"{POSITIONAL}="),
            op(phase_post, group, "read", "version_as_of", "read",
               f"SELECT count(*), sum(qty), sum(price) FROM {t} VERSION AS OF {{v_pre}}",
               [f"SELECT count(*), sum(qty), sum(price) FROM {t}_v_pre"]),
            op(phase_post, group, "sql", "compact", "write",
               f"CALL spark_catalog.system.optimize_compact('{t}')", []),
            op(phase_post, group, "sql", "vacuum", "write",
               f"CALL spark_catalog.system.vacuum('{t}', 1)", []),
            op(phase_post, group, "read", "final_meta", "read",
               f"SELECT count(*), min(k), max(k), sum(qty) FROM {t}",
               [f"SELECT count(*), min(k), max(k), sum(qty) FROM {t}"]),
        ]
        return ops

    # set-up: one small table per DML mode, each on its own warm thread
    # (the maintenance calls run on the first); {v_pre} names the main
    # table's version, a warm table's first is 1
    warm = []
    for g, mode in enumerate(["cow", "pos"]):
        w = lifecycle(f"txw{g}", f"{wroot}{g}", "warm", "warm", "warm", wpaths, [mode], g,
                      maintenance=g == 0)
        w.append(op("warm", g, "sql", "drop", "write", f"DROP TABLE txw{g}", []))
        warm += [dict(o, payload=o["payload"].replace("{v_pre}", "1")) for o in w]
    main = lifecycle("tx", root, "pre", "loop", "post", paths, modes)
    return warm + main, {"data": data, "root": root, "table": "tx"}
