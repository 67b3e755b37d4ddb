"""Expected-output digests from the DuckDB oracle.

Evaluates the registry's oracle SQL (dumped from `SparkEntry.oracleSql`
at build time) over a generated input directory and renders each result
with the same canonical digest as `Digest.scala`, under the comparison
rules of `tools/check_oracle.py`: columns by sorted name, rows as a
multiset, exact values, an integer equal to a double of the same value.

`standing_expected` adds the expectations of every intermediate state of
the standing_state workload: each probe after each micro batch and each
fold's output pairs, by the registry's rebuild oracles over the initial
load plus the batches folded so far.
"""
import datetime
import decimal
import hashlib
import math
import os
import re
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]
EPOCH = datetime.datetime(1970, 1, 1)


def _esc(s):
    return s.replace("\\", "\\\\").replace("|", "\\|").replace(",", "\\,")


def _dbl(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < 9.0e18:
        return "I" + str(int(d))
    return "F" + str(struct.unpack(">q", struct.pack(">d", d))[0])


def token(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return "I" + str(v)
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return "I" + str(int(v))
        return _dbl(float(v))
    if isinstance(v, str):
        return "S" + _esc(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "T" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(token(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(x) for x in v) + "]"
    return "S" + _esc(str(v))


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "|".join(token(r[i]) for i in order)
        h = hashlib.md5(line.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return f"rows:{n};cols:{','.join(sorted(columns))};sum:{total}"


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(input_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def components(pairs):
    """{node: least node of its component} by union-find over `pairs`."""
    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


RECURSIVE_REACH = re.compile(
    r"reach AS \(\s*SELECT u, v FROM sym\s+UNION\s+"
    r"SELECT r\.u, s\.v FROM reach r JOIN sym s ON r\.v = s\.u\)")
REACH_USE = re.compile(r"min\(v\) AS component\s+FROM reach GROUP BY u")
SELF_JOIN = "pts a JOIN pts b ON a.c_custkey < b.c_custkey"


def with_union_find(con, sql):
    """The registry's connected-components oracles with the closure step
    evaluated by union-find instead of recursion.

    Those oracles build a symmetric pair relation `sym`, take its full
    reachability closure `reach` and only ever read `min(v) ... GROUP BY u`
    from it: each node's least reachable id. The closure is quadratic in
    component size and does not finish at the replica's scale. Here DuckDB
    evaluates everything up to `sym` verbatim, a union-find labels each
    node with its component's least id, and `reach` becomes that table,
    which gives every reader the identical answer."""
    m = RECURSIVE_REACH.search(sql)
    if m is None or len(REACH_USE.findall(sql)) != sql.count("FROM reach") - 1:
        return sql
    # a necessary condition for the haversine <= 200 m the edge CTEs test
    # (0.003 degrees is over 250 m in both axes at the lattice's latitude),
    # so DuckDB can range-join instead of scoring every pair
    sql = sql.replace(SELF_JOIN, SELF_JOIN +
                      " AND a.lat BETWEEN b.lat - 3e-3 AND b.lat + 3e-3"
                      " AND a.lon BETWEEN b.lon - 3e-3 AND b.lon + 3e-3")
    m = RECURSIVE_REACH.search(sql)
    prefix = sql[:m.start()].rstrip().rstrip(",")
    labels = components(con.sql(prefix + " SELECT u, v FROM sym").fetchall())
    con.execute("CREATE OR REPLACE TEMP TABLE reach_uf AS SELECT "
                "unnest($1::BIGINT[]) AS u, unnest($2::BIGINT[]) AS v",
                [list(labels), list(labels.values())])
    return sql[:m.start()] + "reach AS (SELECT u, v FROM reach_uf)" + sql[m.end():]


def expected(input_dir, sql_by_name):
    """{name: digest} for every (name, sql) pair, evaluated untimed."""
    con = connect(input_dir)
    out = {}
    for name, sql in sql_by_name.items():
        rel = con.sql(with_union_find(con, sql))
        out[name] = digest(rel.columns, rel.fetchall())
    con.close()
    return out


P = 2147483647


def rank_key(a, b, seed):
    """The seeded batch order of the standing_state workload; the same
    integer arithmetic as `StandingState.rankKey` (all terms are
    non-negative, so `%` is the modulus in both engines)."""
    return f"(({a} * 1000003 + {b}) % {P} * 48271 + {seed % P}) % {P}"


def _ranked(con, name, query, a, b, seed):
    con.execute(f"""CREATE OR REPLACE TEMP TABLE {name} AS
        SELECT *, row_number() OVER (ORDER BY {rank_key(a, b, seed)}, {a}, {b}) - 1
          AS rank FROM ({query})""")
    return con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]


def _cte_prefix(sql, next_cte):
    """The oracle SQL's WITH clause up to (not including) `next_cte`."""
    i = sql.index(",\n" + next_cte + " AS")
    return sql[:i]


def standing_expected(input_dir, templates, plan, seed):
    """{key: digest} for every intermediate output of standing_state.

    The three inputs (the 250 m and 200 m customer graphs as undirected
    pairs, the indexed documents) are ranked in the seeded order the
    workload uses. Ranks below `pool` are the batch pool: micro batch i
    is ranks [i * micro, (i + 1) * micro); the rest is the initial load.
    State k holds the initial load and micro batches 0..k-1. Keys:
      hb_probe/k, cc_probe/k, mh_probe/k  probes after micro batch k-1
      mh_ingest/i                         fold output of micro batch i
      mh_ingest_medium/m                  fold output of the medium batch
                                          (the rest of the pool) after m
                                          micro batches
    """
    con = connect(input_dir)
    hb_sql = templates["gr_hyperball_incremental"]
    cc_sql = templates["gr_cc_incremental"]
    mh_sql = templates["st_compact_probe"]
    n_hb = _ranked(con, "hb_pairs", _cte_prefix(hb_sql, "r0") +
                   " SELECT src AS a, dst AS b FROM e WHERE src < dst", "a", "b", seed)
    n_cc = _ranked(con, "cc_pairs", _cte_prefix(cc_sql, "sym") +
                   " SELECT src AS a, dst AS b FROM edges", "a", "b", seed)
    n_mh = _ranked(con, "mh_docs", "SELECT doc_id AS a, 0 AS b FROM documents "
                   "WHERE doc_id % 4 <> 0 OR doc_id % 8 = 0", "a", "b", seed)
    max_micro = plan["max_micro"]

    def geometry(n):
        micro = max(1, round(n * plan["micro_share"]))
        return micro, round(n * plan["medium_share"]) + max_micro * micro

    (hb_m, hb_pool), (cc_m, cc_pool), (mh_m, mh_pool) = (
        geometry(n_hb), geometry(n_cc), geometry(n_mh))

    def state(table, micro, pool, k):
        return f"(SELECT * FROM {table} WHERE rank >= {pool} OR rank < {k * micro})"

    def batch_nodes(table, micro, i):
        rows = con.execute(f"SELECT a, b FROM {table} WHERE rank >= {i * micro} "
                           f"AND rank < {(i + 1) * micro}").fetchall()
        return {x for r in rows for x in r}

    fixed = [r[0] for r in con.execute(
        f"SELECT node FROM (SELECT a AS node FROM hb_pairs UNION SELECT b FROM hb_pairs) "
        f"ORDER BY {rank_key('node', 0, seed)}, node LIMIT {plan['probe_nodes']}").fetchall()]
    probe_docs = [r[0] for r in con.execute(
        f"SELECT doc_id FROM documents WHERE doc_id % 8 = 4 "
        f"ORDER BY {rank_key('doc_id', 0, seed)}, doc_id LIMIT {plan['probe_docs']}").fetchall()]

    # HyperBall: the registry's rebuild replay with its edge set replaced
    # by the state's (both directions of every pair)
    hb_head = _cte_prefix(hb_sql, "e")
    hb_tail = hb_sql[hb_sql.index(",\nr0 AS"):]
    # the MinHash probe: the registry's SQL with its index and probe sets
    # replaced; the banded signatures are computed once
    mh_banded = _cte_prefix(mh_sql, "idx")
    con.execute(f"CREATE OR REPLACE TEMP TABLE banded_t AS {mh_banded} SELECT * FROM banded")
    mh_tail = mh_sql[mh_sql.index(",\ncand AS"):]

    def mh_pairs(idx, probe, batch_col):
        q = (f"WITH banded AS (SELECT * FROM banded_t),\n"
             f"idx AS (SELECT * FROM banded WHERE id IN (SELECT a FROM {idx})),\n"
             f"b2 AS (SELECT * FROM banded WHERE id IN ({probe}))" + mh_tail)
        rel = con.sql(f"SELECT *{batch_col} FROM ({q})")
        return digest(rel.columns, rel.fetchall())

    cc_rows = con.execute("SELECT a, b, rank FROM cc_pairs").fetchall()
    out = {}
    for k in range(1, max_micro + 1):
        i = k - 1
        nodes = sorted(set(fixed) | batch_nodes("hb_pairs", hb_m, i))
        st = state("hb_pairs", hb_m, hb_pool, k)
        q = (hb_head + f",\ne AS MATERIALIZED (SELECT a AS src, b AS dst FROM {st} "
             f"UNION ALL SELECT b, a FROM {st})" + hb_tail)
        rel = con.sql(f"SELECT * FROM ({q}) WHERE node IN ({', '.join(map(str, nodes))})")
        out[f"hb_probe/{k}"] = digest(rel.columns, rel.fetchall())

        labels = components((a, b) for a, b, r in cc_rows
                             if r >= cc_pool or r < k * cc_m)
        nodes = sorted(set(fixed) | batch_nodes("cc_pairs", cc_m, i))
        out[f"cc_probe/{k}"] = digest(["node", "component"],
                                      [(n, labels[n]) for n in nodes if n in labels])

        out[f"mh_probe/{k}"] = mh_pairs(state("mh_docs", mh_m, mh_pool, k),
                                        ", ".join(map(str, probe_docs)), "")
        out[f"mh_ingest/{i}"] = mh_pairs(
            state("mh_docs", mh_m, mh_pool, i),
            f"SELECT a FROM mh_docs WHERE rank >= {i * mh_m} AND rank < {k * mh_m}",
            ", 0 AS batch_id")
        out[f"mh_ingest_medium/{k}"] = mh_pairs(
            state("mh_docs", mh_m, mh_pool, k),
            f"SELECT a FROM mh_docs WHERE rank >= {k * mh_m} AND rank < {mh_pool}",
            ", 0 AS batch_id")
    con.close()
    return out
