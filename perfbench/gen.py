"""Seeded inputs for the benchmark: the engine's test tables, relabelled.

`perfbench/data/<sf>/` holds a copy of the engine's test tables at two
scales (sf0.01 for the workloads, sf0.001 for the self-test; the
`embeddings` table, which no workload reads, is left out). A seed
relabels them: the customer, supplier, part and document keys each go
through a seeded permutation of their own key set, applied to every
foreign key that refers to them, so a name, its lattice position (the
spatial rows derive positions from the key), the md5 samples and the
key-modulo batch splits all move with the seed while the key set, the
values and with them the amount of work stay those of the test data.

`replicas > 1` builds the key-stride replica: copy r of every keyed row
gets key + r * N, N being the size of the key range (foreign keys shift
with it), so the graph rows see R disjoint copies of the seeded graph on
an R times larger key space.

Usage: python3 gen.py <out_dir> <seed> <sf> [replicas]
"""
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]
# key column of a table -> the (table, column) pairs that refer to it
KEYS = {
    ("customer", "c_custkey"): [("orders", "o_custkey")],
    ("supplier", "s_suppkey"): [("lineitem", "l_suppkey")],
    ("part", "p_partkey"): [("lineitem", "l_partkey")],
    ("documents", "doc_id"): [],
}
# key-stride replica: table -> (column, the table and key whose range it shifts by)
REPLICA = {
    "customer": [("c_custkey", "customer", "c_custkey")],
    "supplier": [("s_suppkey", "supplier", "s_suppkey")],
    "part": [("p_partkey", "part", "p_partkey")],
    "orders": [("o_orderkey", "orders", "o_orderkey"),
               ("o_custkey", "customer", "c_custkey")],
    "lineitem": [("l_orderkey", "orders", "o_orderkey"),
                 ("l_partkey", "part", "p_partkey"),
                 ("l_suppkey", "supplier", "s_suppkey")],
}


def base_dir(sf):
    d = os.path.join(HERE, "data", f"sf{sf:g}")
    if not os.path.isdir(d):
        raise SystemExit(f"no test tables at scale {sf:g} under {HERE}/data")
    return d


def columns(con, table):
    return [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]


def generate(out_dir, seed, sf, replicas=1):
    os.makedirs(out_dir, exist_ok=True)
    src = base_dir(sf)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        # keep the file's row order
        con.execute(f"CREATE TABLE {t} AS SELECT * EXCLUDE (file_row_number) "
                    f"FROM read_parquet('{src}/{t}.parquet', file_row_number = true) "
                    "ORDER BY file_row_number")

    # one seeded permutation per key set: the i-th key in seeded order
    # takes the i-th smallest key
    remap = {}
    for n, ((table, key), refs) in enumerate(KEYS.items()):
        m = f"map{n}"
        con.execute(f"""CREATE TABLE {m} AS
            WITH k AS (SELECT DISTINCT {key} AS old FROM {table}),
            a AS (SELECT old, row_number() OVER (ORDER BY hash({int(seed)}, '{key}', old), old) AS r FROM k),
            b AS (SELECT old AS new, row_number() OVER (ORDER BY old) AS r FROM k)
            SELECT a.old, b.new FROM a JOIN b USING (r)""")
        for t, c in [(table, key)] + refs:
            remap.setdefault(t, {})[c] = m
    for t, cols in remap.items():
        joins, sel = [], []
        for c in columns(con, t):
            if c in cols:
                alias = f"m_{c}"
                joins.append(f"LEFT JOIN {cols[c]} {alias} ON {alias}.old = x.{c}")
                sel.append(f"coalesce({alias}.new, x.{c}) AS {c}")
            else:
                sel.append(f"x.{c}")
        con.execute(f"""CREATE TABLE {t}_new AS
            SELECT {', '.join(sel)} FROM (SELECT *, row_number() OVER () AS rn FROM {t}) x
            {' '.join(joins)} ORDER BY x.rn""")
        con.execute(f"DROP TABLE {t}")
        con.execute(f"ALTER TABLE {t}_new RENAME TO {t}")

    r = int(replicas)
    if r > 1:
        stride = {}
        for t, shifts in REPLICA.items():
            for _, kt, kc in shifts:
                stride[(kt, kc)] = con.execute(
                    f"SELECT max({kc}) + 1 FROM {kt}").fetchone()[0]
        con.execute(f"CREATE TABLE rep AS SELECT CAST(r AS BIGINT) AS r FROM range({r}) t(r)")
        for t, shifts in REPLICA.items():
            by = {c: stride[(kt, kc)] for c, kt, kc in shifts}
            sel = ", ".join(f"{c} + rep.r * {by[c]} AS {c}" if c in by else c
                            for c in columns(con, t))
            con.execute(f"CREATE TABLE {t}_rep AS SELECT {sel} FROM {t}, rep ORDER BY rep.r")
            con.execute(f"DROP TABLE {t}")
            con.execute(f"ALTER TABLE {t}_rep RENAME TO {t}")

    for t in TABLES:
        con.execute(f"COPY (SELECT * FROM {t}) TO '{out_dir}/{t}.parquet' "
                    "(FORMAT parquet)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 1)
