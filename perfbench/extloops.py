"""ext_loops: iterative registry entries in process, into a noop sink.

Inputs are generated from the seed in the shape of the program's test data
(orders, lineitem) at the row counts of its smallest scale: the entries'
cost is per-round jobs and planning, which barely moves with the data size.
Each entry's result from the first, untimed pass is checked against the
entry's own DuckDB oracle SQL over the same parquet files."""
import json
import math
import random

import answers
import duckdb

ENTRIES = ["q195_pagerank"]
ORDERS = 1500
LINES = 6000
CUSTOMERS = 150
PARTS = 200
TABLES = ("orders", "lineitem")
# One timed pass takes about 2.3 s on 4 vCPUs; one pass per 2.4 s requested
# gives twelve at --seconds 30, so a short burst of contention from outside
# slows fewer than half of them and leaves the median alone.
PASS_SECONDS = 2.4


def generate(data_dir, seed_value):
    """Write the input parquet files for `seed_value`."""
    rng = random.Random(f"ext_loops/{seed_value}")
    con = duckdb.connect()
    orders = [(k, rng.randint(1, CUSTOMERS), rng.choice("FOP"),
               round(rng.uniform(1000, 300000), 2), f"{rng.randint(1, 5)}-PRIO")
              for k in range(ORDERS)]
    lines = [(rng.randrange(ORDERS), rng.randint(1, PARTS), rng.randint(1, 10),
              i % 7 + 1, float(rng.randint(1, 50)))
             for i in range(LINES)]
    con.execute("CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
                "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderpriority VARCHAR)")
    con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?)", orders)
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT, "
                "l_suppkey BIGINT, l_linenumber INTEGER, l_quantity DOUBLE)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?, ?, ?)", lines)
    for t in TABLES:
        con.execute(f"COPY {t} TO '{data_dir / (t + '.parquet')}' (FORMAT PARQUET)")
    con.close()


def check(data_dir, out_dir):
    """Mismatch messages of each entry's result against its oracle."""
    oracles = json.loads((out_dir / "oracles.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / (t + '.parquet')}'")
    bad = []
    for name in ENTRIES:
        if name not in oracles:
            bad.append(f"{name}: no oracle SQL")
            continue
        got_rel = con.sql(f"SELECT * FROM '{out_dir / name}/*.parquet'")
        want_rel = con.sql(oracles[name])
        if sorted(got_rel.columns) != sorted(want_rel.columns):
            bad.append(f"{name}: columns {got_rel.columns} vs {want_rel.columns}")
            continue
        cols = sorted(want_rel.columns)
        proj = ", ".join(f'"{c}"' for c in cols)
        got = answers.rows(got_rel.project(proj).fetchall())
        want = answers.rows(want_rel.project(proj).fetchall())
        # compared as multisets: a parquet directory does not keep row order
        key = lambda r: [round(v, 6) if isinstance(v, float) else str(v) for v in r]
        got.sort(key=key)
        want.sort(key=key)
        if not answers.same_rows(got, want):
            bad.append(f"{name}: {len(got)} rows vs oracle {len(want)}; "
                       f"first {got[:2]} vs {want[:2]}")
    con.close()
    return bad


def timed_passes(seconds):
    return max(1, math.floor(seconds / PASS_SECONDS + 0.5))
