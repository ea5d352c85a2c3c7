#!/usr/bin/env python3
"""View-binding and store-cast probes on the installed DuckDB.

Every row of ViewBindingSpec (src/test/scala/graft/component) and the
DML store-cast and plain UPDATE/DELETE rows of MergeSpec carry the
result this script prints for them on DuckDB 1.0. Each row runs on a
fresh in-memory database: its setup statements in order, then one probe
query (or a function of the connection), and prints the probe's rows or
the error it raised.

Rows that need SQL DuckDB 1.0 lacks (SET VARIABLE, MERGE) are not
here; their specs say so.

Usage: python3 tools/view_probe.py [row-label-substring]
"""
import os
import sys
import tempfile

import duckdb


def exported_views(con):
    """The CREATE VIEW lines of an EXPORT DATABASE schema.sql, in order."""
    with tempfile.TemporaryDirectory() as d:
        con.execute(f"EXPORT DATABASE '{d}/db'")
        with open(os.path.join(d, "db", "schema.sql")) as f:
            return [l.strip() for l in f if l.upper().startswith("CREATE VIEW")]


def copy_from_parquet(con):
    """COPY FROM a parquet DOUBLE column into an INTEGER column."""
    with tempfile.TemporaryDirectory() as d:
        f = os.path.join(d, "j.parquet")
        con.execute(f"COPY (SELECT 1 AS k, 3.5::DOUBLE AS j) TO '{f}' (FORMAT PARQUET)")
        con.execute("CREATE TABLE u (k INTEGER, j INTEGER)")
        con.execute(f"COPY u FROM '{f}'")
        return con.execute("SELECT j, typeof(j) FROM u").fetchall()


T = "CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (2, 20)) v(k, x)"
V = "CREATE VIEW v AS SELECT * FROM t"
P = "CREATE TABLE p_t AS SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) v(k, v)"
PQ = "SELECT * FROM p_t ORDER BY k"
J = ["CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (2, 20)) v(k, v)",
     "CREATE TABLE s AS SELECT * FROM (VALUES (1, 5), (2, 6)) v(k, nv)",
     "CREATE TABLE other AS SELECT 1 AS k, 99 AS x"]

ROWS = [
    # (label, setup statements, probe query or a function of the connection)
    ("dml after create view",
     [T, "CREATE VIEW s AS SELECT sum(x) AS total FROM t",
      "INSERT INTO t VALUES (3, 30)", "UPDATE t SET x = x + 1 WHERE k = 1",
      "DELETE FROM t WHERE k = 2"],
     "SELECT * FROM s"),
    ("view over a view",
     [T, V, "CREATE VIEW w AS SELECT count(*) AS n FROM v",
      "INSERT INTO t VALUES (3, 30)"],
     "SELECT * FROM w"),
    ("create or replace table, same shape",
     [T, V, "CREATE OR REPLACE TABLE t AS SELECT 7 AS k, 70 AS x"],
     "SELECT * FROM v"),
    ("create or replace table, different shape",
     [T, V, "CREATE OR REPLACE TABLE t AS SELECT 'a' AS k, 70 AS x"],
     "SELECT * FROM v"),
    ("add column under select *",
     [T, V, "ALTER TABLE t ADD COLUMN y INTEGER"],
     "SELECT * FROM v"),
    ("add column under a named list",
     [T, "CREATE VIEW v AS SELECT k, x FROM t", "ALTER TABLE t ADD COLUMN y INTEGER"],
     "SELECT * FROM v"),
    ("rename column",
     [T, V, "ALTER TABLE t RENAME COLUMN x TO z"],
     "SELECT * FROM v"),
    ("alter type",
     [T, V, "ALTER TABLE t ALTER COLUMN x TYPE BIGINT"],
     "SELECT * FROM v"),
    ("drop source",
     [T, V, "DROP TABLE t"],
     "SELECT * FROM v"),
    ("rename table",
     [T, V, "ALTER TABLE t RENAME TO t2"],
     "SELECT * FROM v"),
    ("pivot view after dml",
     ["CREATE TABLE sales AS SELECT * FROM (VALUES ('a', 2020, 1), ('b', 2021, 2)) s(r, y, amt)",
      "CREATE VIEW pv AS PIVOT sales ON y IN (2020, 2021) USING sum(amt) GROUP BY r",
      "INSERT INTO sales VALUES ('a', 2021, 5)"],
     "SELECT * FROM pv ORDER BY r"),
    ("dynamic pivot view",
     ["CREATE TABLE sales AS SELECT * FROM (VALUES ('a', 2020, 1), ('b', 2021, 2)) s(r, y, amt)",
      "CREATE VIEW pv AS PIVOT sales ON y USING sum(amt) GROUP BY r"],
     "SELECT * FROM pv ORDER BY r"),
    ("asof view after dml",
     ["CREATE TABLE trades AS SELECT * FROM (VALUES (1, 5), (1, 15)) s(id, ts)",
      "CREATE TABLE quotes AS SELECT * FROM (VALUES (1, 0, 100), (1, 10, 110)) q(id, ts, px)",
      "CREATE VIEW tq AS SELECT t.ts, q.px FROM trades t ASOF JOIN quotes q "
      "ON t.id = q.id AND t.ts >= q.ts",
      "INSERT INTO quotes VALUES (1, 12, 120)"],
     "SELECT * FROM tq ORDER BY ts"),
    ("export database lists views in creation order",
     [T, "CREATE VIEW zv AS SELECT k FROM t", "CREATE VIEW av AS SELECT k FROM zv",
      "CREATE OR REPLACE VIEW zv AS SELECT k FROM t"],
     exported_views),
    ("repeated column names",
     ["CREATE VIEW v AS SELECT 1 AS k, 2 AS K, 3 AS k"],
     "SELECT * FROM v"),
    # the DML store cast: a stored value takes the column's declared type
    ("update keeps the column type",
     ["CREATE TABLE w AS SELECT 1 AS k, 7 AS i", "UPDATE w SET i = i / 2"],
     "SELECT i, typeof(i) FROM w"),
    ("update keeps a decimal column type",
     ["CREATE TABLE w AS SELECT 1 AS k, 10.05::DECIMAL(15,2) AS p",
      "UPDATE w SET p = round(p * 1.1, 2)"],
     "SELECT p, typeof(p) FROM w"),
    ("insert values rounds into an integer column",
     ["CREATE TABLE u (k INTEGER, j INTEGER)", "INSERT INTO u VALUES (1, 3.5)"],
     "SELECT j, typeof(j) FROM u"),
    ("insert select rounds into an integer column",
     ["CREATE TABLE u (k INTEGER, j INTEGER)", "INSERT INTO u SELECT 1, 2.5::DOUBLE"],
     "SELECT j, typeof(j) FROM u"),
    ("update from rounds into an integer column",
     ["CREATE TABLE u AS SELECT 1 AS k, 7 AS j", "CREATE TABLE s AS SELECT 1 AS k",
      "UPDATE u SET j = u.j / 2 FROM s WHERE u.k = s.k"],
     "SELECT j, typeof(j) FROM u"),
    ("upsert set rounds into an integer column",
     ["CREATE TABLE u (k INTEGER PRIMARY KEY, j INTEGER)", "INSERT INTO u VALUES (1, 7)",
      "INSERT INTO u VALUES (1, 0) ON CONFLICT (k) DO UPDATE SET j = u.j / 2"],
     "SELECT j, typeof(j) FROM u"),
    ("alter type rounds a double into an integer column",
     ["CREATE TABLE w AS SELECT 1 AS k, 3.5::DOUBLE AS x UNION ALL SELECT 2, -2.5::DOUBLE",
      "ALTER TABLE w ALTER COLUMN x TYPE INTEGER"],
     "SELECT x, typeof(x) FROM w ORDER BY k"),
    ("alter type rounds a decimal into an integer column",
     ["CREATE TABLE w AS SELECT 1 AS k, 2.5::DECIMAL(4,1) AS x",
      "ALTER TABLE w ALTER COLUMN x TYPE INTEGER"],
     "SELECT x, typeof(x) FROM w"),
    ("alter type using rounds into an integer column",
     ["CREATE TABLE w AS SELECT 1 AS k, 7 AS x",
      "ALTER TABLE w ALTER COLUMN x TYPE INTEGER USING x / 2"],
     "SELECT x, typeof(x) FROM w"),
    ("add column default rounds a decimal into an integer column",
     ["CREATE TABLE w AS SELECT 1 AS k", "ALTER TABLE w ADD COLUMN n INTEGER DEFAULT 2.5"],
     "SELECT n, typeof(n) FROM w"),
    ("add column default rounds a double into an integer column",
     ["CREATE TABLE w AS SELECT 1 AS k",
      "ALTER TABLE w ADD COLUMN n INTEGER DEFAULT 3.5::DOUBLE"],
     "SELECT n, typeof(n) FROM w"),
    ("copy from parquet rounds into an integer column", [], copy_from_parquet),
    # plain UPDATE and DELETE: one binder with the join forms
    ("update with an AS alias", [P, "UPDATE p_t AS a SET v = 11 WHERE a.k = 1"], PQ),
    ("update with a bare alias", [P, "UPDATE p_t a SET v = 11 WHERE a.k = 1"], PQ),
    ("delete with an AS alias", [P, "DELETE FROM p_t AS a WHERE a.k = 3"], PQ),
    ("delete with a bare alias", [P, "DELETE FROM p_t a WHERE a.k = 3"], PQ),
    ("update an unknown column", [P, "UPDATE p_t SET nope = 5 WHERE k = 1"], PQ),
    ("update without where", [P, "UPDATE p_t SET v = v + 1"], PQ),
    ("delete without where", [P, "DELETE FROM p_t"], PQ),
    ("update where is distinct from", [P, "UPDATE p_t SET v = 0 WHERE k IS DISTINCT FROM 2"], PQ),
    # subqueries inside the join forms' expressions
    ("update from with subqueries in set and where",
     J + ["UPDATE t SET v = (SELECT max(x) FROM other) FROM s "
          "WHERE t.k = s.k AND t.k IN (SELECT k FROM other)"],
     "SELECT * FROM t ORDER BY k"),
    ("delete using with a subquery in where",
     J + ["DELETE FROM t USING s WHERE t.k = s.k AND t.k IN (SELECT k FROM other)"],
     "SELECT * FROM t ORDER BY k"),
]


def main():
    only = sys.argv[1] if len(sys.argv) > 1 else ""
    print(f"duckdb {duckdb.__version__}")
    for label, setup, probe in ROWS:
        if only not in label:
            continue
        con = duckdb.connect()
        try:
            for s in setup:
                con.execute(s)
            if callable(probe):
                out = repr(probe(con))
            else:
                cur = con.execute(probe)
                out = repr([d[0] for d in cur.description]) + " " + repr(cur.fetchall())
        except Exception as e:  # noqa: BLE001 - the error is the probe's result
            out = f"ERROR {type(e).__name__}: {e}"
        finally:
            con.close()
        print(f"{label}: {out}")


if __name__ == "__main__":
    main()
