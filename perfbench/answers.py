"""Comparing engine answers (Trino JSON cells) with independent ones."""
import datetime
import decimal


def cell(v):
    """A DuckDB or Python value in the Trino wire's JSON rendering."""
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.") + f"{v.microsecond // 1000:03d}"
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def rows(rs):
    return [[cell(v) for v in r] for r in rs]


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b or a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= 1e-6 * max(1.0, abs(b))
    return a == b


def same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))
