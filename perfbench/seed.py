"""The reference's five seed tables (compose/seed.sh:65-115) as the
statements a Trino client sends, and the same rows regenerated in DuckDB
for the independent answers. `current_timestamp` is replaced by a fixed
anchor, so every answer is a pure function of the row number n."""
import datetime
import re

import duckdb

ANCHOR = datetime.datetime(2026, 1, 1)
ANCHOR_SQL = "TIMESTAMP '2026-01-01 00:00:00'"

# name -> (row count, DDL columns, INSERT select list over n)
TABLES = {
    "events": (200,
        "id bigint, ts timestamp, event_type varchar, payload varchar, "
        "user_id bigint, amount double",
        "n AS id, {A} - INTERVAL '1' DAY * (n % 30), CASE (n % 5) WHEN 0 THEN "
        "'click' WHEN 1 THEN 'purchase' WHEN 2 THEN 'view' WHEN 3 THEN 'login' "
        "ELSE 'logout' END, 'Event ' || CAST(n AS varchar), (n % 50) + 1, "
        "(n * 10.5) + 100.0"),
    "users": (50,
        "user_id bigint, username varchar, email varchar, created_at timestamp, "
        "country varchar, active boolean",
        "n AS user_id, 'user' || CAST(n AS varchar), 'user' || CAST(n AS varchar) "
        "|| '@example.com', {A} - INTERVAL '1' DAY * (n % 90), CASE (n % 10) "
        "WHEN 0 THEN 'US' WHEN 1 THEN 'UK' WHEN 2 THEN 'DE' WHEN 3 THEN 'FR' "
        "WHEN 4 THEN 'CA' WHEN 5 THEN 'AU' WHEN 6 THEN 'JP' WHEN 7 THEN 'BR' "
        "WHEN 8 THEN 'IN' ELSE 'MX' END, n % 3 != 0"),
    "orders": (150,
        "order_id bigint, user_id bigint, product_id bigint, quantity integer, "
        "price double, order_date timestamp, status varchar",
        "n AS order_id, (n % 50) + 1, (n % 20) + 1, (n % 5) + 1, "
        "(n * 15.75) + 50.0, {A} - INTERVAL '1' DAY * (n % 60), CASE (n % 4) "
        "WHEN 0 THEN 'completed' WHEN 1 THEN 'pending' WHEN 2 THEN 'shipped' "
        "ELSE 'cancelled' END"),
    "products": (20,
        "product_id bigint, name varchar, category varchar, price double, "
        "stock integer, created_at timestamp",
        "n AS product_id, 'Product ' || CAST(n AS varchar), CASE (n % 5) WHEN 0 "
        "THEN 'Electronics' WHEN 1 THEN 'Clothing' WHEN 2 THEN 'Books' WHEN 3 "
        "THEN 'Home' ELSE 'Sports' END, (n * 25.50) + 10.0, (n * 10) + 50, "
        "{A} - INTERVAL '1' DAY * n"),
    "transactions": (300,
        "transaction_id bigint, user_id bigint, amount double, currency varchar, "
        "transaction_type varchar, timestamp timestamp, status varchar",
        "n AS transaction_id, (n % 50) + 1, (n * 12.34) + 5.0, CASE (n % 3) "
        "WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'GBP' END, CASE (n % 3) WHEN "
        "0 THEN 'payment' WHEN 1 THEN 'refund' ELSE 'transfer' END, "
        "{A} - INTERVAL '1' HOUR * (n % 720), CASE (n % 10) WHEN 0 THEN "
        "'failed' ELSE 'success' END"),
}


def ddl(name):
    return f"CREATE TABLE iceberg.demo.{name} ({TABLES[name][1]});"


def insert(name, lo, hi, select=None):
    """The reference's insert shape over rows n in [lo, hi]."""
    sel = (select or TABLES[name][2]).format(A=ANCHOR_SQL)
    return (f"INSERT INTO iceberg.demo.{name} SELECT {sel} "
            f"FROM UNNEST(sequence({lo}, {hi})) AS t(n);")


SCHEMA = "CREATE SCHEMA IF NOT EXISTS iceberg.demo WITH (location='s3://warehouse/demo/');"


def seed_statements(names=TABLES):
    """seed.sh's CREATE and INSERT per table (its DROP TABLE IF EXISTS is
    left out: every run starts from an empty warehouse)."""
    out = [SCHEMA]
    for name in names:
        out += [ddl(name), insert(name, 1, TABLES[name][0])]
    return out


TRINO_TYPES = {"bigint": "bigint", "integer": "integer", "double": "double",
               "varchar": "varchar", "boolean": "boolean",
               "timestamp": "timestamp(3)"}


def ddl_columns(name):
    """(column, Trino type) pairs as the DDL text declares them."""
    cols = []
    for part in TABLES[name][1].split(","):
        col, typ = part.split()
        cols.append((col, TRINO_TYPES[typ]))
    return cols


def duck_tables():
    """A DuckDB connection holding the five tables, rebuilt from the seed
    formulas (DuckDB's own generator and arithmetic, not the engine's)."""
    con = duckdb.connect()
    for name, (count, cols, select) in TABLES.items():
        decl = [c.split() for c in cols.split(",")]
        sel = select.format(A=ANCHOR_SQL).replace("varchar", "VARCHAR")
        # each value cast to its declared column type, as INSERT does
        aliased = ", ".join(
            'CAST({} AS {}) AS "{}"'.format(re.sub(r" AS \w+$", "", e.strip()), t, c)
            for e, (c, t) in zip(_split_top(sel), decl))
        con.execute(f"CREATE TABLE {name} AS SELECT {aliased} "
                    f"FROM generate_series(1, {count}) AS t(n)")
    return con


def _split_top(s):
    """Split a select list on top-level commas."""
    out, depth, cur, quote = [], 0, [], False
    for ch in s:
        if ch == "'":
            quote = not quote
        elif not quote and ch == "(":
            depth += 1
        elif not quote and ch == ")":
            depth -= 1
        if ch == "," and depth == 0 and not quote:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out
