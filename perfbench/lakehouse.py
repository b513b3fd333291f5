"""lakehouse_write: one closed-loop client over the wire on
iceberg.demo.orders, checked against its own model of the table.

A round is INSERT (the reference's `UNNEST(sequence(...))` shape), UPDATE,
MERGE INTO and DELETE, each followed by two read-backs (table aggregates
and the rows the write touched). Every third round also creates a tag and
reads the table as of that tag and as of the run's first tag. Inserts and
deletes balance, so the table keeps 150 live rows. The seed fixes which
key ranges UPDATE and MERGE touch and MERGE's new prices."""
import datetime
import os
import random

import answers
import seed
import wireload
from wireload import Stmt

TABLE = "iceberg.demo.orders"
INSERT_ROWS = 20
UPDATE_ROWS = 15
MERGE_MATCHED = 10
MERGE_NEW = 10
ROUND_SECONDS = 7.5   # --seconds 30 gives 4 rounds (about 6 s each on 4 vCPUs)
COLUMNS = "order_id, user_id, product_id, quantity, price, order_date, status"
STATUS = ["completed", "pending", "shipped", "cancelled"]
# row-changing writes; each must add a commit to the manifest store
COMMITTING = ("dml", "merge")


def seed_row(n, price=None, status=None):
    d = seed.ANCHOR - datetime.timedelta(days=n % 60)
    return [(n % 50) + 1, (n % 20) + 1, (n % 5) + 1,
            n * 15.75 + 50.0 if price is None else price,
            answers.cell(d), STATUS[n % 4] if status is None else status]


class Workload:
    """Statements are made one at a time from the model, which each
    finished write then updates."""

    def __init__(self, seed_value):
        self.rng = random.Random(f"lakehouse_write/{seed_value}")
        n = seed.TABLES["orders"][0]
        self.rows = {k: seed_row(k) for k in range(1, n + 1)}
        self.round = 0
        self.tags = {}      # tag -> aggregates of the model at that tag

    # ---- answers from the model
    def _aggs(self):
        ks = self.rows.keys()
        return [len(ks), sum(r[2] for r in self.rows.values()), min(ks), max(ks),
                sum(r[3] for r in self.rows.values())]

    def agg_read(self):
        want = [self._aggs()]
        return Stmt("chart", "SELECT count(*) AS n, sum(quantity) AS q, "
                    "min(order_id) AS lo, max(order_id) AS hi, sum(price) AS p "
                    f"FROM {TABLE}", _expect(want))

    def _range_read(self, lo, hi):
        want = [[k] + self.rows[k] for k in sorted(self.rows) if lo <= k <= hi]
        return Stmt("chart", f"SELECT {COLUMNS} FROM {TABLE} WHERE order_id "
                    f"BETWEEN {lo} AND {hi} ORDER BY order_id", _expect(want))

    # ---- one round: yields a statement, then (after it ran) applies it
    def round_statements(self):
        """Yield (statement, apply) pairs; `apply` updates the model once
        the statement has FINISHED (None for reads)."""
        lo, hi = min(self.rows), max(self.rows)
        # INSERT new keys above the live range
        new_lo, new_hi = hi + 1, hi + INSERT_ROWS
        yield (Stmt("dml", seed.insert("orders", new_lo, new_hi), write=True),
               lambda: self.rows.update({k: seed_row(k) for k in range(new_lo, new_hi + 1)}))
        yield self.agg_read(), None
        yield self._range_read(new_lo, new_hi), None
        # UPDATE a seed-chosen block of live keys
        lo, hi = min(self.rows), max(self.rows)
        u = self.rng.randint(lo, hi - UPDATE_ROWS + 1)

        def upd():
            for k in range(u, u + UPDATE_ROWS):
                self.rows[k][2] += 1
                self.rows[k][5] = "updated"
        yield (Stmt("dml", f"UPDATE {TABLE} SET quantity = quantity + 1, status = "
                    f"'updated' WHERE order_id BETWEEN {u} AND {u + UPDATE_ROWS - 1}",
                    _expect([[UPDATE_ROWS]]), write=True), upd)
        yield self.agg_read(), None
        yield self._range_read(u, u + UPDATE_ROWS - 1), None
        # MERGE: a matched block with new prices, plus new keys
        m = self.rng.randint(lo, hi - MERGE_MATCHED + 1)
        mult = 3.5 + 0.25 * self.rng.randint(0, 8)
        src = (f"SELECT n AS order_id, (n % 50) + 1 AS user_id, (n % 20) + 1 AS "
               f"product_id, (n % 5) + 1 AS quantity, (n * {mult}) + 7.0 AS price, "
               f"{seed.ANCHOR_SQL} - INTERVAL '1' DAY * (n % 60) AS order_date, "
               f"'merged' AS status FROM UNNEST(sequence({{a}}, {{b}})) AS u(n)")
        source = " UNION ALL ".join([
            src.format(a=m, b=m + MERGE_MATCHED - 1),
            src.format(a=hi + 1, b=hi + MERGE_NEW)])
        keys = list(range(m, m + MERGE_MATCHED)) + list(range(hi + 1, hi + MERGE_NEW + 1))

        def merge():
            for k in keys:
                if k in self.rows:
                    self.rows[k][3] = k * mult + 7.0
                    self.rows[k][5] = "merged"
                else:
                    self.rows[k] = seed_row(k, price=k * mult + 7.0, status="merged")
        yield (Stmt("merge", f"MERGE INTO {TABLE} t USING ({source}) s ON "
                    "t.order_id = s.order_id WHEN MATCHED THEN UPDATE SET price = "
                    "s.price, status = s.status WHEN NOT MATCHED THEN INSERT "
                    f"({COLUMNS}) VALUES (s.order_id, s.user_id, s.product_id, "
                    "s.quantity, s.price, s.order_date, s.status)",
                    _expect([[MERGE_MATCHED + MERGE_NEW]]), write=True), merge)
        yield self.agg_read(), None
        yield self._range_read(m, m + MERGE_MATCHED - 1), None
        # DELETE the oldest keys, so the live size is back where it was
        cut = min(self.rows) + INSERT_ROWS + MERGE_NEW

        def delete():
            for k in [k for k in self.rows if k < cut]:
                del self.rows[k]
        yield (Stmt("dml", f"DELETE FROM {TABLE} WHERE order_id < {cut}",
                    _expect([[INSERT_ROWS + MERGE_NEW]]), write=True), delete)
        yield self.agg_read(), None
        yield self._range_read(cut, cut + 19), None
        self.round += 1
        tag = f"r{self.round}"
        snap = self._aggs()
        yield (Stmt("timetravel", f"ALTER TABLE {TABLE} CREATE TAG {tag}",
                    write=True), lambda: self.tags.setdefault(tag, snap))
        # the first round reads its own tag twice, so every round is alike
        for t in (tag, next(iter(self.tags))):
            yield (Stmt("timetravel", "SELECT count(*) AS n, sum(quantity) AS q, "
                        "min(order_id) AS lo, max(order_id) AS hi, sum(price) AS p "
                        f"FROM {TABLE} FOR VERSION AS OF '{t}'",
                        _expect([self.tags[t]])), None)


def _expect(want):
    want = answers.rows(want)
    return lambda cols, rows: None if answers.same_rows(rows, want) \
        else f"got {rows[:3]} want {want[:3]}"


def table_files(warehouse):
    """(path -> size) of every file of the table: its manifest root holds
    the data directories and the metadata."""
    out = {}
    for base in (warehouse / "_graft_meta" / "demo_orders",
                 warehouse / "demo.db" / "orders"):
        for d, _, fs in os.walk(base):
            for f in fs:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


def is_data(path):
    return f"{os.sep}data{os.sep}" in path


def setup(client, outcome):
    for sql in seed.seed_statements(["orders"]):
        wireload.execute(client, Stmt("setup", sql, write=True), outcome)
