"""bi_dashboard: Superset-shaped clients over /v1/statement against the
five seed tables at reference scale.

One client round is ten statements in a seed-shuffled order: two
dataset-refresh introspections (the Trino SQLAlchemy dialect's schemata
listing on even clients or table listing on odd ones, and one get_columns
as `EXECUTE IMMEDIATE ... USING`) and eight charts (the two reference charts of init_db.py:140-157, three
time-range-filtered charts, an orders-products-users join, an active-users
chart and the seed.sh:118 count union)."""
import datetime
import random
import re

import answers
import seed
import wireload
from wireload import Stmt

CLIENTS = 4
ROUND = 10            # statements in one client round
WARM_STMTS = CLIENTS * ROUND // 2  # half a round per client
# Statements in the timed window per second requested, as calibrated on
# 4 vCPUs: --seconds 30 gives 128.
WINDOW_PER_SECOND = 128 / 30


PARTS = 8  # the window's rate is the median of its eighths' rates


def window_statements(seconds):
    return max(CLIENTS, round(seconds * WINDOW_PER_SECOND))


def rounds_for(statements):
    """Rounds per client that cover `statements` finishes with a round to
    spare, so that no client runs dry before the window closes."""
    return -(-statements // (CLIENTS * ROUND)) + 1

GET_COLUMNS = ("EXECUTE IMMEDIATE 'SELECT \"column_name\", \"data_type\", "
               "\"column_default\", UPPER(\"is_nullable\") AS \"is_nullable\" "
               "FROM \"information_schema\".\"columns\" WHERE \"table_schema\" = ? "
               "AND \"table_name\" = ? ORDER BY \"ordinal_position\" ASC' "
               "USING 'demo', '{t}'")


def _ts(d):
    return f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'"


def _oracle(duck, sql, sums_to=None):
    """Check against DuckDB's answer to the same chart over the regenerated
    rows; with `sums_to`, the count column must also add up to it."""
    # DuckDB's date_trunc answers a DATE where Trino keeps the timestamp
    duck_sql = sql.replace("iceberg.demo.", "").replace(
        "date_trunc('day', ts)", "CAST(date_trunc('day', ts) AS TIMESTAMP)")
    want = answers.rows(duck.execute(duck_sql).fetchall())

    def check(cols, rows):
        if not answers.same_rows(rows, want):
            return f"got {rows[:4]}... want {want[:4]}..."
        if sums_to is not None and sum(r[cols.index("count")] for r in rows) != sums_to:
            return f"group counts do not sum to {sums_to}"
        return None
    return check


def client_round(duck, rng, client):
    """One client's ten statements (unshuffled)."""
    a = seed.ANCHOR
    ev0 = a - datetime.timedelta(days=rng.randint(7, 29))
    tx0 = a - datetime.timedelta(hours=rng.randint(48, 700))
    or0 = a - datetime.timedelta(days=rng.randint(14, 59))
    cols_table = rng.choice(sorted(seed.TABLES))
    charts = [
        ("SELECT id, ts, event_type, user_id, amount FROM iceberg.demo.events "
         "ORDER BY id LIMIT 100", None),
        ("SELECT event_type AS event_type, COUNT(*) AS count FROM "
         "iceberg.demo.events GROUP BY event_type ORDER BY count DESC, "
         "event_type LIMIT 10", seed.TABLES["events"][0]),
        (f"SELECT date_trunc('day', ts) AS __timestamp, COUNT(*) AS count FROM "
         f"iceberg.demo.events WHERE ts >= {_ts(ev0)} AND ts < "
         f"{_ts(ev0 + datetime.timedelta(days=7))} GROUP BY date_trunc('day', ts) "
         f"ORDER BY __timestamp LIMIT 10000", None),
        (f"SELECT currency AS currency, SUM(amount) AS \"SUM(amount)\", "
         f"COUNT(*) AS count FROM iceberg.demo.transactions WHERE \"timestamp\" "
         f">= {_ts(tx0)} AND \"timestamp\" < {_ts(tx0 + datetime.timedelta(hours=48))} "
         f"GROUP BY currency ORDER BY \"SUM(amount)\" DESC, currency LIMIT 100", None),
        (f"SELECT status AS status, COUNT(*) AS count, SUM(price * quantity) AS "
         f"revenue FROM iceberg.demo.orders WHERE order_date >= {_ts(or0)} AND "
         f"order_date < {_ts(or0 + datetime.timedelta(days=14))} GROUP BY status "
         f"ORDER BY count DESC, status LIMIT 100", None),
        ("SELECT p.category AS category, u.country AS country, "
         "SUM(o.quantity * o.price) AS revenue, COUNT(*) AS count FROM "
         "iceberg.demo.orders o JOIN iceberg.demo.products p ON o.product_id = "
         "p.product_id JOIN iceberg.demo.users u ON o.user_id = u.user_id "
         "GROUP BY p.category, u.country ORDER BY revenue DESC, category, country "
         "LIMIT 100", seed.TABLES["orders"][0]),
        ("SELECT country AS country, COUNT(*) AS count FROM iceberg.demo.users "
         "WHERE active = true GROUP BY country ORDER BY count DESC, country "
         "LIMIT 50", None),
        ("SELECT 'events' AS table_name, count(*) AS rows FROM iceberg.demo.events "
         "UNION ALL SELECT 'users', count(*) FROM iceberg.demo.users UNION ALL "
         "SELECT 'orders', count(*) FROM iceberg.demo.orders UNION ALL SELECT "
         "'products', count(*) FROM iceberg.demo.products UNION ALL SELECT "
         "'transactions', count(*) FROM iceberg.demo.transactions "
         "ORDER BY table_name", None),
    ]
    stmts = [Stmt("chart", sql, _oracle(duck, sql, total)) for sql, total in charts]
    if client % 2 == 0:
        stmts.append(Stmt("introspect", "SELECT schema_name FROM "
                          "information_schema.schemata", _check_schemata))
    else:
        stmts.append(Stmt("introspect", "SELECT table_name FROM "
                          "information_schema.tables WHERE table_schema = 'demo' "
                          "AND table_type = 'BASE TABLE'", _check_tables))
    stmts.append(Stmt("introspect", GET_COLUMNS.format(t=cols_table),
                      _check_columns(cols_table)))
    return stmts


# Introspection answers come from the DDL text the client sent.
def _check_schemata(cols, rows):
    got = {r[0] for r in rows}
    # `default` is the engine's built-in schema; the DDL created `demo`
    if "demo" not in got or not got <= {"demo", "default", "information_schema"}:
        return f"schemata {sorted(got)}"
    return None


def _check_tables(cols, rows):
    got = sorted(r[0] for r in rows)
    return None if got == sorted(seed.TABLES) else f"tables {got}"


def _check_columns(table):
    want = [[c, t, None, "YES"] for c, t in seed.ddl_columns(table)]
    return lambda cols, rows: None if rows == want else f"columns {rows}"


def rng_for(seed_value, client):
    return random.Random(f"bi_dashboard/{seed_value}/{client}")


def sequences(duck, seed_value, rounds):
    """Per client: `rounds` shuffled copies of its round."""
    out = []
    for c in range(CLIENTS):
        rng = rng_for(seed_value, c)
        base = client_round(duck, rng, c)
        seq = []
        for _ in range(rounds):
            r = list(base)
            rng.shuffle(r)
            seq += r
        out.append(seq)
    return out


def direct_text(stmt):
    """The text the router sees: wire-side EXECUTE IMMEDIATE binds its
    `?` markers first (these arguments are plain quoted literals)."""
    m = re.match(r"(?s)EXECUTE IMMEDIATE '((?:[^']|'')*)' USING (.+)$", stmt.sql)
    if not m:
        return stmt.sql
    text = m.group(1).replace("''", "'")
    for arg in [a.strip() for a in m.group(2).split(",")]:
        text = text.replace("?", arg, 1)
    return text


def setup(client, outcome):
    for sql in seed.seed_statements():
        wireload.execute(client, Stmt("setup", sql, write=True), outcome)
