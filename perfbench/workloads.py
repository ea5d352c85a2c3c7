"""Seeded Keboola data directories for the component benchmark.

Each workload is a function ``(rng, data_dir, testdata)`` that writes a
complete KBC data directory: ``config.json``, ``in/tables`` (files plus
manifests), optionally ``in/files/warehouse`` (the previous run's
passthrough state), and empty ``out/tables`` and ``out/files``.

The seed varies the physical inputs only: row order and slice boundaries of
the CSV inputs and file names of the parquet parts. The logical
content is fixed, so every seed of a workload yields the same order-
insensitive output digest and the same amount of work; one pinned digest
per workload checks the outputs of any seed.
"""

import json
import random
import shutil
from pathlib import Path

TPCH_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SLICES = 4


def _basetypes(types):
    return {c: [{"key": "KBC.datatype.basetype", "value": t}] for c, t in types.items()}


def _write_json(path, obj):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=1))


def _csv_line(values):
    return ",".join('"' + str(v).replace('"', '""') + '"' for v in values) + "\n"


class DataDir:
    """Builder for one KBC data directory."""

    def __init__(self, root, rng, testdata):
        self.root = Path(root)
        self.rng = rng
        self.testdata = Path(testdata)
        self.inputs = []
        for d in ("in/tables", "out/tables", "out/files"):
            (self.root / d).mkdir(parents=True, exist_ok=True)

    def _part_name(self):
        return "part-%05d-%08x.parquet" % (self.rng.randrange(100), self.rng.getrandbits(32))

    def parquet_input(self, sf, table, storage_id):
        """A parquet directory staged under in/tables, as KBC stages it."""
        d = self.root / "in" / "tables" / table
        d.mkdir(parents=True)
        shutil.copyfile(self.testdata / sf / (table + ".parquet"), d / self._part_name())
        _write_json(self.root / "in" / "tables" / (table + ".manifest"), {"id": storage_id})
        self.inputs.append({"source": storage_id, "destination": table, "file_type": "parquet"})

    def warehouse_table(self, sf, table):
        """A table persisted by the previous run (warehouse passthrough)."""
        d = self.root / "in" / "files" / "warehouse" / table
        d.mkdir(parents=True)
        shutil.copyfile(self.testdata / sf / (table + ".parquet"), d / self._part_name())

    def sliced_csv(self, name, storage_id, columns, types, rows):
        """Headerless CSV slices in a directory, names and types from the manifest."""
        rows = list(rows)
        self.rng.shuffle(rows)
        d = self.root / "in" / "tables" / name
        d.mkdir(parents=True)
        # the slice count stays fixed: it sets the scan's partition count,
        # and 2 slices ran etl_sf01 ~9% slower than 3-6 did
        cuts = sorted(self.rng.sample(range(1, len(rows)), SLICES - 1))
        for i, (a, b) in enumerate(zip([0] + cuts, cuts + [len(rows)])):
            with open(d / ("slice_%d.csv" % i), "w") as f:
                f.writelines(_csv_line(r) for r in rows[a:b])
        _write_json(self.root / "in" / "tables" / (name + ".manifest"), {
            "id": storage_id, "columns": columns, "delimiter": ",", "enclosure": '"',
            "column_metadata": _basetypes(types)})
        self.inputs.append({"source": storage_id, "destination": name})

    def header_csv(self, name, storage_id, columns, rows, types=None):
        """One CSV file with a header row; without declared types the
        component infers them."""
        rows = list(rows)
        self.rng.shuffle(rows)
        with open(self.root / "in" / "tables" / name, "w") as f:
            f.write(_csv_line(columns))
            f.writelines(_csv_line(r) for r in rows)
        manifest = {"id": storage_id}
        if types:
            manifest.update(columns=columns, column_metadata=_basetypes(types))
        _write_json(self.root / "in" / "tables" / (name + ".manifest"), manifest)
        self.inputs.append({"source": storage_id, "destination": name})

    def config(self, blocks, outputs):
        """Write config.json. ``blocks`` is a list of (name, [(code, sql)])."""
        out_blocks = [{"name": name, "codes": [{"name": c, "script": [sql]} for c, sql in codes]}
                      for name, codes in blocks]
        _write_json(self.root / "config.json", {
            "parameters": {"threads": 4, "blocks": out_blocks},
            "storage": {
                "input": {"tables": self.inputs},
                "output": {"tables": [
                    {"source": t, "destination": "out.c-bench." + t} for t in outputs]}}})


def customers(n):
    """Synthetic CRM customers for keys 0..n-1 (fixed content)."""
    r = random.Random("customers-%d" % n)
    for k in range(n):
        yield (k, "Customer#%09d" % k, r.randrange(25), "%.2f" % r.uniform(-999.99, 9999.99),
               r.choice(SEGMENTS), "%02d-%03d-%03d-%04d" % (
                   10 + r.randrange(25), r.randrange(1000), r.randrange(1000), r.randrange(10000)))


CUSTOMER_COLUMNS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "c_phone"]
CUSTOMER_TYPES = {"c_custkey": "INTEGER", "c_name": "STRING", "c_nationkey": "INTEGER",
                  "c_acctbal": "NUMERIC", "c_mktsegment": "STRING", "c_phone": "STRING"}


def nations():
    return [(k, name, region, "nation %s" % name.lower())
            for k, (name, region) in enumerate(TPCH_NATIONS)]


def etl_sf01(rng, data_dir, testdata):
    """Read path at volume: parquet, sliced CSV and inferred header CSV
    inputs; CTAS/view blocks with joins, group-bys and windows; one ~600k-row
    export plus small ones."""
    dd = DataDir(data_dir, rng, testdata)
    dd.parquet_input("sf0.1", "lineitem", "in.c-erp.lineitem")
    dd.parquet_input("sf0.1", "orders", "in.c-erp.orders")
    dd.sliced_csv("customer", "in.c-crm.customer", CUSTOMER_COLUMNS, CUSTOMER_TYPES,
                  customers(15000))
    dd.header_csv("nation", "in.c-ref.nation",
                  ["n_nationkey", "n_name", "n_regionkey", "n_comment"], nations())
    dd.config([
        ("staging", [
            ("cust", """CREATE VIEW cust AS
SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal, n.n_name AS nation, n.n_regionkey
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""),
            ("ord", """CREATE VIEW ord AS
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       o_orderdate::DATE AS order_date, o_totalprice::DECIMAL(15,2) AS total_price
FROM orders"""),
            ("li", """CREATE VIEW li AS
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity::DECIMAL(12,2) AS qty,
       (l_extendedprice * (1 - l_discount))::DECIMAL(15,2) AS net_price,
       l_returnflag, l_linestatus, l_shipdate::DATE AS ship_date
FROM lineitem"""),
        ]),
        ("facts", [
            ("sales", """CREATE TABLE sales AS
SELECT li.l_orderkey, li.l_linenumber, li.net_price, li.l_returnflag, li.ship_date,
       o.o_custkey, o.order_date, c.nation, c.c_mktsegment,
       date_diff('day', o.order_date, li.ship_date) AS ship_days
FROM li
JOIN ord o ON li.l_orderkey = o.o_orderkey
JOIN cust c ON o.o_custkey = c.c_custkey"""),
        ]),
        ("marts", [
            ("monthly_nation", """CREATE TABLE monthly_nation AS
SELECT nation, date_trunc('month', order_date)::DATE AS month,
       count(DISTINCT l_orderkey) AS orders, sum(net_price) AS revenue,
       avg(ship_days)::DECIMAL(10,3) AS avg_ship_days
FROM sales GROUP BY ALL"""),
            ("top_customers", """CREATE TABLE top_customers AS
SELECT nation, o_custkey, revenue, rnk FROM (
  SELECT nation, o_custkey, sum(net_price) AS revenue,
         row_number() OVER (PARTITION BY nation ORDER BY sum(net_price) DESC, o_custkey) AS rnk
  FROM sales GROUP BY nation, o_custkey)
WHERE rnk <= 10"""),
            ("segment_mix", """CREATE VIEW segment_mix AS
SELECT c_mktsegment, l_returnflag, count(*) AS lines, sum(net_price) AS revenue
FROM sales GROUP BY ALL"""),
            ("running", """CREATE TABLE running AS
SELECT nation, month, revenue,
       sum(revenue) OVER (PARTITION BY nation ORDER BY month
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_revenue
FROM monthly_nation"""),
        ]),
    ], ["sales", "monthly_nation", "top_customers", "segment_mix", "running"])


def order_updates():
    """Delta feed for the DML workload (fixed content): status/priority
    changes to existing orders and brand-new orders past the key range."""
    r = random.Random("order-updates")
    rows = []
    for k in sorted(r.sample(range(150000), 1500)):
        rows.append((k, r.randrange(15000), r.choice("FOP"), "%.2f" % r.uniform(1000, 400000),
                     "2001-%02d-%02d" % (r.randint(1, 12), r.randint(1, 28)),
                     r.choice(PRIORITIES), "changed by feed"))
    for k in range(150000, 150500):
        rows.append((k, r.randrange(15000), "O", "%.2f" % r.uniform(1000, 400000),
                     "2001-%02d-%02d" % (r.randint(9, 12), r.randint(1, 28)),
                     r.choice(PRIORITIES), "new from feed"))
    return rows


def dml_sf01(rng, data_dir, testdata):
    """Write path at volume: sf0.1 lineitem/orders arrive as the warehouse
    passthrough; MERGE/UPDATE/DELETE/INSERT...SELECT/ALTER chains on them,
    dependent views that must re-bind, small exports."""
    dd = DataDir(data_dir, rng, testdata)
    dd.warehouse_table("sf0.1", "lineitem")
    dd.warehouse_table("sf0.1", "orders")
    dd.header_csv("order_updates", "in.c-erp.order_updates",
                  ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderdate", "o_orderpriority", "change_note"],
                  order_updates(),
                  types={"o_orderkey": "INTEGER", "o_custkey": "INTEGER",
                         "o_orderstatus": "STRING", "o_totalprice": "FLOAT",
                         "o_orderdate": "TIMESTAMP", "o_orderpriority": "STRING",
                         "change_note": "STRING"})
    dd.config([
        ("prepare", [
            ("add_note", "ALTER TABLE orders ADD COLUMN o_note VARCHAR"),
            ("open_orders", """CREATE VIEW open_orders AS
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderstatus = 'O'"""),
            ("order_value", """CREATE VIEW order_value AS
SELECT l_orderkey, sum((l_extendedprice * (1 - l_discount))::DECIMAL(15,2)) AS value,
       count(*) AS lines
FROM lineitem GROUP BY l_orderkey"""),
        ]),
        ("apply", [
            ("merge_feed", """MERGE INTO orders o USING order_updates d ON o.o_orderkey = d.o_orderkey
WHEN MATCHED THEN UPDATE SET o_orderstatus = d.o_orderstatus,
  o_orderpriority = d.o_orderpriority, o_note = d.change_note
WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
  o_orderdate, o_orderpriority, o_note)
VALUES (d.o_orderkey, d.o_custkey, d.o_orderstatus, d.o_totalprice, d.o_orderdate,
  d.o_orderpriority, d.change_note)"""),
            ("close_lines", """UPDATE lineitem SET l_linestatus = 'F'
WHERE l_orderkey IN (SELECT o_orderkey FROM order_updates WHERE o_orderstatus = 'F')"""),
            ("purge_returns", """DELETE FROM lineitem
WHERE l_returnflag = 'R' AND l_shipdate < TIMESTAMP '1996-01-01'"""),
            ("rebook", """INSERT INTO lineitem
SELECT l_orderkey + 1000000, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, 'N', 'O', l_shipdate + INTERVAL 30 DAY
FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01' AND l_returnflag = 'R'"""),
            ("urgent_surcharge", """UPDATE orders SET o_totalprice = round(o_totalprice * 1.1, 2)
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'"""),
        ]),
        ("report", [
            ("status_summary", """CREATE TABLE status_summary AS
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       sum(o_totalprice::DECIMAL(18,2)) AS total, count(o_note) AS noted
FROM orders GROUP BY ALL"""),
            ("open_value", """CREATE TABLE open_value AS
SELECT o_orderpriority, count(*) AS n, sum(o_totalprice::DECIMAL(18,2)) AS total
FROM open_orders GROUP BY ALL"""),
            ("line_summary", """CREATE TABLE line_summary AS
SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity::DECIMAL(18,2)) AS qty,
       max(l_orderkey) AS max_key
FROM lineitem GROUP BY ALL"""),
            ("big_orders", """CREATE TABLE big_orders AS
SELECT count(*) AS orders, sum(value) AS value, sum(lines) AS lines
FROM order_value WHERE value > 300000"""),
        ]),
    ], ["status_summary", "open_value", "line_summary", "big_orders"])


def many_scripts(rng, data_dir, testdata):
    """The common Keboola shape: many short scripts over small sf0.01
    inputs, wide batches, heavy use of the DuckDB dialect surface, small DML
    and eight small exports. Fixed per-statement costs dominate."""
    dd = DataDir(data_dir, rng, testdata)
    for t in ("lineitem", "orders", "part"):
        dd.parquet_input("sf0.01", t, "in.c-erp." + t)
    dd.sliced_csv("customer", "in.c-crm.customer", CUSTOMER_COLUMNS, CUSTOMER_TYPES,
                  customers(1500))
    dd.header_csv("nation", "in.c-ref.nation",
                  ["n_nationkey", "n_name", "n_regionkey", "n_comment"], nations())
    years = range(1998, 2000)
    seg = {s: s.lower() for s in ("AUTOMOBILE", "MACHINERY")}
    flags = ["A", "N"]

    stage = [
        ("stg_orders", """CREATE TABLE stg_orders AS
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       o_totalprice::DECIMAL(15,2) AS price, o_orderdate::DATE AS odate
FROM orders"""),
        ("stg_lines", """CREATE TABLE stg_lines AS
SELECT * EXCLUDE (l_tax), (l_extendedprice * (1 - l_discount))::DECIMAL(15,2) AS net,
       l_shipdate::DATE AS ship_date
FROM lineitem"""),
        ("stg_cust", """CREATE TABLE stg_cust AS
SELECT c_custkey, upper(c_name) AS name, c_nationkey, c_acctbal::DECIMAL(12,2) AS acctbal,
       c_mktsegment, split_part(c_phone, '-', 1)::INTEGER AS country_code
FROM customer"""),
        ("stg_parts", """CREATE TABLE stg_parts AS
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice::DECIMAL(12,2) AS list_price
FROM part"""),
        ("v_nation", """CREATE VIEW v_nation AS
SELECT n_nationkey, n_name, n_regionkey FROM nation"""),
        ("audit", "CREATE TABLE audit (step VARCHAR, n BIGINT)"),
    ]
    stage += [("seg_" + l, """CREATE TABLE seg_%s AS
SELECT c_custkey, c_nationkey, c_acctbal FROM customer WHERE c_mktsegment ILIKE '%s'""" % (l, l))
              for s, l in seg.items()]

    daily = [("y%d" % y, """CREATE TABLE y%d AS
SELECT strftime(odate, '%%Y-%%m') AS ym, o_orderstatus, count(*) AS n, sum(price) AS revenue
FROM stg_orders WHERE year(odate) = %d GROUP BY ALL""" % (y, y)) for y in years]
    daily += [("segrev_" + l, """CREATE TABLE segrev_%s AS
SELECT c.c_nationkey, count(*) AS orders, sum(o.price) AS revenue
FROM stg_orders o JOIN seg_%s c ON o.o_custkey = c.c_custkey GROUP BY ALL""" % (l, l))
                for l in seg.values()]
    daily += [("last_line_" + f.lower(), """CREATE TABLE last_line_%s AS
SELECT l_orderkey, l_linenumber, ship_date FROM stg_lines WHERE l_returnflag = '%s'
QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY ship_date DESC, l_linenumber DESC) = 1"""
                % (f.lower(), f)) for f in flags]
    daily += [
        ("brand_sales", """CREATE TABLE brand_sales AS
SELECT p.p_brand, count(*) AS lines, sum(l.net) AS revenue
FROM stg_lines l JOIN stg_parts p ON l.l_partkey = p.p_partkey GROUP BY ALL"""),
        ("audit_orders", "INSERT INTO audit SELECT 'orders', count(*) FROM stg_orders"),
        ("cust_fix", "UPDATE stg_cust SET acctbal = 0 WHERE acctbal < 0"),
        ("parts_big", "DELETE FROM stg_parts WHERE p_size > 45"),
    ]

    marts = [("ship_lag_" + f.lower(), """CREATE TABLE ship_lag_%s AS
SELECT date_trunc('year', l.ship_date)::DATE AS yr, count(*) AS n,
       avg(date_diff('day', o.odate, l.ship_date))::DECIMAL(10,2) AS lag_days
FROM last_line_%s l JOIN stg_orders o ON l.l_orderkey = o.o_orderkey GROUP BY ALL"""
              % (f.lower(), f.lower())) for f in flags]
    marts += [("nation_seg_" + l, """CREATE TABLE nation_seg_%s AS
SELECT n.n_name, r.orders, r.revenue, rank() OVER (ORDER BY r.revenue DESC, n.n_name) AS pos
FROM segrev_%s r JOIN v_nation n ON r.c_nationkey = n.n_nationkey""" % (l, l))
              for l in seg.values()]
    marts += [
        ("years", "CREATE TABLE years AS " + " UNION ALL ".join(
            "SELECT %d AS yr, * FROM y%d" % (y, y) for y in years)),
        ("cust_value", """CREATE TABLE cust_value AS
SELECT c.c_custkey, c.name, c.c_mktsegment, c.acctbal, count(o.o_orderkey) AS orders,
       coalesce(sum(o.price), 0) AS spent
FROM stg_cust c LEFT JOIN stg_orders o ON o.o_custkey = c.c_custkey GROUP BY ALL"""),
        ("top_parts", """CREATE TABLE top_parts AS
SELECT p_brand, p_partkey, p_name, list_price FROM stg_parts
QUALIFY row_number() OVER (PARTITION BY p_brand ORDER BY list_price DESC, p_partkey) <= 3"""),
    ]

    exports = [
        ("yearly", """CREATE TABLE yearly AS
SELECT yr, sum(n) AS orders, sum(revenue) AS revenue,
       sum(sum(revenue)) OVER (ORDER BY yr) AS cum_revenue
FROM years GROUP BY ALL"""),
        ("monthly", """CREATE TABLE monthly AS
SELECT ym, sum(n) AS orders, sum(revenue) AS revenue FROM years GROUP BY ALL"""),
        ("seg_leaders", "CREATE TABLE seg_leaders AS " + " UNION ALL ".join(
            "SELECT '%s' AS segment, n_name, revenue FROM nation_seg_%s WHERE pos <= 3" % (s, l)
            for s, l in seg.items())),
        ("ship_lag", "CREATE TABLE ship_lag AS " + " UNION ALL ".join(
            "SELECT '%s' AS flag, * FROM ship_lag_%s" % (f, f.lower()) for f in flags)),
        ("whales", """CREATE TABLE whales AS
SELECT c_mktsegment, c_custkey, name, spent FROM cust_value
QUALIFY row_number() OVER (PARTITION BY c_mktsegment ORDER BY spent DESC, c_custkey) <= 5"""),
        ("audit_final", "INSERT INTO audit SELECT 'years', count(*) FROM years"),
    ]
    dd.config([("stage", stage), ("daily", daily), ("marts", marts), ("exports", exports)],
              ["yearly", "monthly", "seg_leaders", "ship_lag", "whales", "top_parts",
               "brand_sales", "audit"])


WORKLOADS = {"etl_sf01": etl_sf01, "dml_sf01": dml_sf01, "many_scripts": many_scripts}


def generate(name, seed, data_dir, testdata):
    """Write workload ``name`` for ``seed`` into the empty ``data_dir``."""
    WORKLOADS[name](random.Random("%s-%d" % (name, seed)), data_dir, testdata)
