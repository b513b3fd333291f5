"""Closed-loop Trino clients and the per-layer view of a traced wire run."""
import bisect
import math
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

import wire


@dataclass
class Stmt:
    cls: str                  # router class: introspect, chart, dml, merge, ...
    sql: str
    check: Optional[Callable] = None   # (cols, rows) -> error text or None
    write: bool = False


@dataclass
class Record:
    stmt: Stmt
    t0: float = 0.0
    t1: float = 0.0
    ok: bool = False
    error: str = ""
    requests: int = 0
    response_bytes: int = 0

    @property
    def ms(self):
        return (self.t1 - self.t0) * 1000.0


@dataclass
class Outcome:
    records: list = field(default_factory=list)
    mismatches: list = field(default_factory=list)

    @property
    def failed(self):
        return sum(1 for r in self.records if not r.ok)


def execute(client, stmt, outcome):
    """Run one statement on `client`, check its answer, and record it."""
    rec = Record(stmt)
    r0, b0 = client.requests, client.response_bytes
    try:
        cols, rows, rec.t0, rec.t1 = client.execute(stmt.sql)
        rec.ok = True
        err = stmt.check(cols, rows) if stmt.check else None
        if err:
            outcome.mismatches.append(f"{stmt.cls}: {err} <- {stmt.sql[:160]}")
    except wire.StatementError as e:
        rec.t1 = time.time()
        rec.error = str(e)
    rec.requests = client.requests - r0
    rec.response_bytes = client.response_bytes - b0
    outcome.records.append(rec)
    return rec


def drive(port, sequences, gap_s):
    """Each sequence is one client's statements, on its own connection; the
    clients run one after another, statements `gap_s` apart so that no
    engine span straddles two statements. Returns (outcome, wall seconds)."""
    outcome = Outcome()
    t0 = time.monotonic()
    for cid, seq in enumerate(sequences):
        client = wire.Client(port, user=f"perfbench{cid}")
        try:
            for st in seq:
                execute(client, st, outcome)
                time.sleep(gap_s)
        finally:
            client.close()
    return outcome, time.monotonic() - t0


def drive_window(port, sequences, skip, count):
    """Concurrent closed-loop clients, one thread and connection each, that
    stop starting statements once `skip + count` have finished. The window
    is the `count` statements that finish after the first `skip` (the
    warm-up); timing it from the `skip`-th finish to the last of them
    leaves out both the clients' common start and the ragged end where
    some have run out of work. Returns (outcome of every statement, window
    records in finishing order, window seconds, wall-clock window start)."""
    outcome = Outcome()
    lock = threading.Lock()
    stop = threading.Event()
    t_drive = time.time()

    def one(cid, seq):
        client = wire.Client(port, user=f"perfbench{cid}")
        local = Outcome()
        try:
            for st in seq:
                if stop.is_set():
                    break
                execute(client, st, local)
                with lock:
                    outcome.records.append(local.records[-1])
                    if len(outcome.records) >= skip + count:
                        stop.set()
        finally:
            client.close()
            with lock:
                outcome.mismatches += local.mismatches

    threads = [threading.Thread(target=one, args=(i, s), daemon=True)
               for i, s in enumerate(sequences)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    done = sorted(outcome.records, key=lambda r: r.t1)
    if len(done) < skip + count:
        raise RuntimeError(f"clients ran out of statements after {len(done)}")
    start = done[skip - 1].t1 if skip else t_drive
    window = done[skip:skip + count]
    return outcome, window, window[-1].t1 - start, start


def quantile(values, q):
    """Inclusive-method quantile (q in (0, 1))."""
    vs = sorted(values)
    if len(vs) == 1:
        return vs[0]
    return statistics.quantiles(vs, n=100, method="inclusive")[round(q * 100) - 1]


def _union_ms(intervals):
    total, end = 0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def attribute(records, spans):
    """Assign each recorded job and query execution to the statement whose
    client window holds its start. Returns one dict per record."""
    recs = sorted(records, key=lambda r: r.t0)
    lo = [math.floor(r.t0 * 1000) for r in recs]
    hi = [math.ceil(r.t1 * 1000) for r in recs]
    per = [dict(jobs=0, stages=0, tasks=0, cpu_ns=0, shuffle=0, spill=0,
                analysis=0, optimization=0, planning=0, first=math.inf,
                last=-math.inf) for _ in recs]

    def slot(t):
        i = bisect.bisect_right(lo, t) - 1
        return i if i >= 0 and t <= hi[i] else None

    for _id, start, end, _grp, stages, tasks, cpu, shuf, spill in spans["jobs"]:
        i = slot(start)
        if i is None:
            continue
        p = per[i]
        p["jobs"] += 1
        p["stages"] += stages
        p["tasks"] += tasks
        p["cpu_ns"] += cpu
        p["shuffle"] += shuf
        p["spill"] += spill
        p["first"] = min(p["first"], start)
        p["last"] = max(p["last"], end)
    for _f, start, end, an, opt, plan in spans["qes"]:
        i = slot(start)
        if i is None:
            continue
        p = per[i]
        p["analysis"] += an
        p["optimization"] += opt
        p["planning"] += plan
        p["first"] = min(p["first"], start)
        p["last"] = max(p["last"], end)
    for r, p in zip(recs, per):
        p["record"] = r
        p["engine_ms"] = p["last"] - p["first"] if p["last"] >= p["first"] else 0
    return per


def job_union_ms(spans, start_ms, end_ms):
    """Wall time covered by jobs that started inside [start_ms, end_ms]."""
    return _union_ms([(s, e) for _i, s, e, *_ in spans["jobs"]
                      if start_ms <= s <= end_ms])


def wire_layers(records, spans, directs):
    """Per-layer metrics of a traced, one-client-at-a-time wire run.
    `directs` are the launcher's in-process timings, as (class, answer)."""
    per = attribute([r for r in records if r.ok], spans)
    n = len(per)
    m = {}
    m["wire.self_ms"] = statistics.median(
        p["record"].ms - p["engine_ms"] for p in per)
    m["wire.requests_per_stmt"] = sum(p["record"].requests for p in per) / n
    m["wire.response_bytes_per_stmt"] = \
        sum(p["record"].response_bytes for p in per) / n
    m["catalyst.analysis_ms"] = sum(p["analysis"] for p in per) / n
    m["catalyst.optimization_ms"] = sum(p["optimization"] for p in per) / n
    m["catalyst.planning_ms"] = sum(p["planning"] for p in per) / n
    m["exec.jobs_per_op"] = sum(p["jobs"] for p in per) / n
    m["exec.stages_per_op"] = sum(p["stages"] for p in per) / n
    m["exec.tasks_per_op"] = sum(p["tasks"] for p in per) / n
    m["exec.task_cpu_ms_per_op"] = sum(p["cpu_ns"] for p in per) / n / 1e6
    m["exec.shuffle_write_bytes_per_op"] = sum(p["shuffle"] for p in per) / n
    m["exec.spill_bytes_per_op"] = sum(p["spill"] for p in per) / n
    m["dialect.to_spark_us"] = statistics.median(a["to_spark_us"] for _, a in directs)
    by_cls = {}
    for cls, a in directs:
        by_cls.setdefault(cls, []).append(a["sql_ms"])
    for cls, v in by_cls.items():
        m[f"router.sql_ms.{cls}"] = statistics.median(v)
    return m
