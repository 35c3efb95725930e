"""Seeded statement pools and their expected results.

Each facade statement comes as a pair: the dfsql-dialect text the program
receives, and a standard-SQL equivalent that DuckDB (an independent
engine) evaluates once during set-up. Results are compared through a
canonical digest that the JVM side (perfbench/src/perfbench/Canon.scala)
computes the same way: every cell rendered as text, cells joined with
'|', rows sorted, lines joined with '\n', SHA-256. Statements avoid float
aggregates whose last bits depend on summation order, so the digests
are exact.
"""
import hashlib
import os
from decimal import Decimal

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return "%.4f" % float(v)
    return str(v)


def digest(rows):
    lines = sorted("|".join(cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def facade_templates(rng):
    """One instance of every statement shape, parameters drawn from rng.
    Each entry: (id, kind, dfsql text, duckdb text, bindings); where the
    two texts are the same, the DuckDB text is None."""
    names = ["d", "nat", "sq", "cust", "q", "reg", "bal", "ckey", "cnt",
             "off", "bal2", "gap", "disc", "n", "bal3", "disc2", "prio", "seg"]
    # narrow ranges: every seed gives each statement about the same work
    p = dict(zip(names, (int(x) for x in rng.integers(
        [0, 0, 1500, 20, 20, 0, 2000, 150, 580, 0, 4000, 5, 0, 100, 3000, 0, 0, 0],
        [15, 25, 1700, 25, 31, 5, 3000, 171, 621, 50, 5001, 9, 9, 1000, 5001, 9, 5, 5]))))
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][p["prio"]]
    seg = ["AUTO", "BUIL", "FURN", "HOUS", "MACH"][p["seg"]]
    return [
        # anchored-regex LIKE: a literal prefix (rewritten to StartsWith)
        # and a real alternation
        ("like_prefix", "ds",
         f"SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#000000{p['d']:02d}.*'",
         f"SELECT c_custkey, c_name FROM customer "
         f"WHERE regexp_matches(c_name, '^(?:Customer#000000{p['d']:02d}.*)')",
         None),
        ("like_regex", "ds",
         f"SELECT c_custkey, c_mktsegment FROM customer "
         f"WHERE c_mktsegment LIKE '(AUTO|{seg}).*' AND c_nationkey = {p['nat']}",
         f"SELECT c_custkey, c_mktsegment FROM customer "
         f"WHERE regexp_matches(c_mktsegment, '^(?:(AUTO|{seg}).*)') AND c_nationkey = {p['nat']}",
         None),
        # ^ is power
        ("power", "ds",
         f"SELECT p_partkey, p_size ^ 2 AS sq FROM part WHERE p_size ^ 2 > {p['sq']}",
         f"SELECT p_partkey, power(p_size, 2) AS sq FROM part WHERE power(p_size, 2) > {p['sq']}",
         None),
        # pandas cast names
        ("cast_str", "ds",
         f"SELECT CAST(o_orderkey AS str) AS k, o_orderpriority FROM orders WHERE o_custkey < {p['cust']}",
         f"SELECT CAST(o_orderkey AS VARCHAR) AS k, o_orderpriority FROM orders WHERE o_custkey < {p['cust']}",
         None),
        # the four join types
        ("join_inner", "ds",
         f"SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS qty FROM orders "
         f"INNER JOIN lineitem ON o_orderkey = l_orderkey WHERE l_quantity > {p['q']} "
         f"GROUP BY o_orderpriority",
         None, None),
        ("join_left", "ds",
         f"SELECT n_nationkey, n_name, r_name FROM nation "
         f"LEFT JOIN region ON n_regionkey = r_regionkey AND r_regionkey < {p['reg']}",
         None, None),
        ("join_right", "ds",
         f"SELECT s_suppkey, n_name FROM supplier "
         f"RIGHT JOIN nation ON s_nationkey = n_nationkey AND s_acctbal > {p['bal']}",
         None, None),
        ("join_full", "ds",
         f"SELECT s_suppkey, c_custkey FROM supplier FULL JOIN customer "
         f"ON s_suppkey = c_custkey AND s_nationkey = c_nationkey "
         f"WHERE c_custkey IS NULL OR c_custkey < {p['ckey']}",
         None, None),
        # GROUP BY / HAVING, DISTINCT
        ("group_having", "ds",
         f"SELECT l_suppkey, count(*) AS n, max(l_extendedprice) AS top FROM lineitem "
         f"GROUP BY l_suppkey HAVING count(*) > {p['cnt']}",
         None, None),
        ("distinct", "ds",
         f"SELECT DISTINCT l_returnflag, l_linestatus, l_tax FROM lineitem WHERE l_quantity < {p['q']}",
         None, None),
        # ORDER BY with a unique tiebreak, LIMIT and OFFSET
        ("order_limit", "ds",
         f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '{prio}' "
         f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET {p['off']}",
         None, None),
        # IN, scalar and FROM subqueries
        ("sub_in", "ds",
         f"SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey IN "
         f"(SELECT n_nationkey FROM nation WHERE n_regionkey = {p['reg']}) AND c_acctbal > {p['bal2']}",
         None, None),
        ("sub_scalar", "ds",
         f"SELECT p_partkey, p_retailprice FROM part WHERE p_retailprice > "
         f"(SELECT max(p_retailprice) FROM part) - {p['gap']}",
         None, None),
        ("sub_from", "ds",
         f"SELECT flag, n FROM (SELECT l_returnflag AS flag, count(*) AS n FROM lineitem "
         f"WHERE l_discount > 0.0{p['disc']} GROUP BY l_returnflag) t WHERE n > {p['n']}",
         None, None),
        # sql_query(sql, **frames): frames come from the catalog's tables
        ("sqlquery", "sqlquery",
         f"SELECT n_name, count(*) AS n FROM cust JOIN nat ON c_nationkey = n_nationkey "
         f"WHERE c_acctbal > {p['bal3']} GROUP BY n_name",
         f"SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey "
         f"WHERE c_acctbal > {p['bal3']} GROUP BY n_name",
         [["cust", "customer"], ["nat", "nation"]]),
        # df.sql("SELECT … WHERE …"): implicit FROM over one frame
        ("implicit_from", "implicit",
         f"SELECT l_returnflag, sum(l_quantity) AS qty, count(*) AS n "
         f"WHERE l_discount > 0.0{p['disc2']} GROUP BY l_returnflag",
         f"SELECT l_returnflag, sum(l_quantity) AS qty, count(*) AS n FROM lineitem "
         f"WHERE l_discount > 0.0{p['disc2']} GROUP BY l_returnflag",
         [["temp", "lineitem"]]),
    ]


def _duckdb(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def facade_pool(seed, data_dir, instances=1):
    """`instances` parameterisations of every template (a bounded pool of
    distinct statements), each with its DuckDB-computed digest."""
    rng = np.random.default_rng([seed, 4])
    con = _duckdb(data_dir)
    pool = []
    for i in range(instances):
        for tid, kind, sql, oracle, bindings in facade_templates(rng):
            rows = con.execute(oracle or sql).fetchall()
            pool.append({"id": f"{tid}.{i}", "kind": kind, "sql": sql,
                         "bindings": bindings or [],
                         "rows": len(rows), "digest": digest(rows)})
    con.close()
    return pool


def churn_plan(seed, data_dir, fixtures, variants=4):
    """CTAS variants over lineitem and one SELECT per CSV fixture, with
    DuckDB's answers. `fixtures` is a list of (table name, csv path)."""
    rng = np.random.default_rng([seed, 5])
    con = _duckdb(data_dir)
    ctas = []
    for _ in range(variants):
        q = int(rng.integers(20, 31))
        sel = (f"SELECT l_orderkey, l_partkey, l_quantity FROM lineitem "
               f"WHERE l_quantity > {q}")
        n, tot = con.execute(
            f"SELECT count(*), sum(l_quantity) FROM lineitem WHERE l_quantity > {q}"
        ).fetchone()
        ctas.append({"select": sel, "rows": n, "qty": float(tot)})
    csv = []
    for name, path in fixtures:
        v = int(rng.integers(100, 900))
        n, tot = con.execute(
            f"SELECT count(*), sum(v) FROM read_csv_auto('{path}') WHERE v > {v}"
        ).fetchone()
        csv.append({"name": name, "path": path,
                    "select": f"SELECT count(*) AS n, sum(v) AS s FROM {name} WHERE v > {v}",
                    "rows": n, "sum": int(tot)})
    con.close()
    return {"ctas": ctas, "csv": csv}
