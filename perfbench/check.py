"""Answer checks. Each function returns, per operation record, whether its
answer is right against the DuckDB oracle SQL that SparkEntry.oracleSql
declares for it."""
import glob
import json
import os

import duckdb
import pandas as pd


def _duck(inputs):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for path in glob.glob(f"{inputs}/*.parquet"):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def same_relation(con, mine_sql, ref_sql):
    """The repository's oracle rule, evaluated inside DuckDB: equal column
    names, equal row counts, and an empty multiset difference of the rows
    with exact values."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW mine AS {mine_sql}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW ref AS {ref_sql}")
    names = [sorted(r[0] for r in con.execute(f"DESCRIBE {v}").fetchall())
             for v in ("mine", "ref")]
    if names[0] != names[1]:
        return f"columns {names[0]} vs {names[1]}"
    n = [con.execute(f"SELECT count(*) FROM {v}").fetchone()[0] for v in ("mine", "ref")]
    if n[0] != n[1]:
        return f"rows {n[0]} vs {n[1]}"
    cols = ", ".join('"' + c.replace('"', '""') + '"' for c in names[0])
    diff = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM mine "
                       f"EXCEPT ALL SELECT {cols} FROM ref)").fetchone()[0]
    return f"{diff} rows differ" if diff else None


def verbs(inputs, work, ops):
    """Every answer (the files the operation wrote) against the query's
    DuckDB oracle SQL."""
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    con = _duck(inputs)
    out, notes, done = [], {}, set()
    for op in ops:
        q = op["name"]
        if op["error"] is not None:
            why = "threw: " + op["error"]
        elif q not in oracle:
            why = "no oracle SQL"
        else:
            if q not in done:
                con.execute(f"CREATE TEMP TABLE oracle_{q} AS {oracle[q]}")
                done.add(q)
            why = same_relation(con, f"SELECT * FROM read_parquet('{op['answer']}/*.parquet')",
                                f"SELECT * FROM oracle_{q}")
        if why:
            notes[f"op{op['seq']} {q}"] = why
        out.append(why is None)
    return out, notes


def curate(inputs, work, ops):
    sql = json.load(open(f"{work}/oracle_sql.json"))["q_lifecycle_e2e"]
    con = _duck(inputs)
    con.execute(f"CREATE TEMP TABLE oracle AS {sql}")
    cols = ["source", "n_docs", "n_tokens", "n_windows", "n_batches",
            "fingerprint", "n_oov", "oov_rate", "gate_ece"]
    out, notes = [], {}
    for op in ops:
        if op["error"] is not None:
            why = "threw: " + op["error"]
        else:
            con.register("answer", pd.DataFrame(op["answer"], columns=cols))
            why = same_relation(con, "SELECT * FROM answer", "SELECT * FROM oracle")
        if why:
            notes[f"op{op['seq']}"] = why
        out.append(why is None)
    return out, notes
