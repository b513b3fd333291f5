#!/usr/bin/env python3
"""Run one benchmark workload against the program in the current directory.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 30 --trace 0

Builds the program (only when its sources changed), starts one engine JVM
over a fresh warehouse, sets up and warms up the workload untimed, runs a
timed phase of a fixed number of operations, checks every answer against
an independent computation, and prints one JSON object as the last line of
stdout: end-to-end metrics with `--trace 0`, per-layer ones with
`--trace 1`. Exits non-zero without a result line if anything fails."""
import time

T_START = time.monotonic()
T_START_WALL = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import bi  # noqa: E402
import engine  # noqa: E402
import extloops  # noqa: E402
import lakehouse  # noqa: E402
import seed  # noqa: E402
import wire  # noqa: E402
import wireload  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
DEADLINE_S = 170       # after the build: a run is cut off before three minutes
TRACE_GAP_S = 0.002    # keeps traced statements' windows disjoint
HEAP = "1g"            # the engine JVM's fixed heap
FOLDED_EXT_PASSES = 3  # ext_loops passes in a traced lakehouse_write run


class RunTimeout(Exception):
    pass


class Ctx:
    def __init__(self, args, run_dir, classpath, build_s):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = args.trace == 1
        self.run_dir = run_dir
        self.warehouse = run_dir / "warehouse"
        self.classpath = classpath
        self.build_s = build_s

    def setup_s(self, wall=None):
        """Process start to now (or to wall-clock `wall`), build excluded."""
        if wall is None:
            return time.monotonic() - T_START - self.build_s
        return wall - T_START_WALL - self.build_s

    def engine(self, mode_args):
        return engine.Engine(
            self.classpath,
            [mode_args[0], str(self.warehouse), str(CORES),
             "1" if self.trace else "0"] + mode_args[1:],
            self.run_dir, heap=HEAP)


def log(msg):
    print(f"perfbench [{time.monotonic() - T_START:7.2f}s] {msg}", file=sys.stderr)


def metric(value, unit):
    return {"value": value, "unit": unit}


def steal_ticks():
    """Jiffies the hypervisor took from this machine's CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def e2e_metrics(ms, parts, setup_s, rss):
    """End-to-end metrics from the timed phase's operation latencies and
    its consecutive parts, as (operations, seconds): the rate is the median
    of the parts' rates, so a burst of contention from outside that slows
    fewer than half of the parts leaves it alone."""
    return {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(statistics.median(n / s for n, s in parts), "op/s"),
        "op_p50_ms": metric(statistics.median(ms), "ms"),
        "engine_peak_rss_mb": metric(rss, "MB"),
    }


# Per-layer metrics: every workload reports all of them; a layer the
# workload does not exercise reads 0.
LAYER_UNITS = {
    "wire.self_ms": "ms", "wire.requests_per_stmt": "count",
    "wire.response_bytes_per_stmt": "B", "dialect.to_spark_us": "us",
    "router.sql_ms.introspect": "ms", "router.sql_ms.chart": "ms",
    "router.sql_ms.dml": "ms", "router.sql_ms.merge": "ms",
    "router.sql_ms.timetravel": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count", "exec.task_cpu_ms_per_op": "ms",
    "exec.shuffle_write_bytes_per_op": "B", "exec.spill_bytes_per_op": "B",
    "storage.commits": "count", "storage.bytes_written_per_commit": "B",
    "storage.live_data_files": "count", "storage.metadata_bytes": "B",
    "storage.driver_ms_per_commit": "ms", "storage.stored_bytes_per_row": "B",
    "client.op_p90_ms": "ms", "client.write_p50_ms": "ms",
    "client.read_p50_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.heap_used_peak_mb": "MB", "jvm.cpu_ms_per_op": "ms",
}
for _e in extloops.ENTRIES:
    LAYER_UNITS.update({f"ext.{_e}.wall_s": "s", f"ext.{_e}.jobs": "count",
                        f"ext.{_e}.shuffle_mb": "MB", f"ext.{_e}.task_cpu_s": "s"})


def layer_metrics(values):
    unknown = set(values) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
    return {k: metric(float(values.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}


def jvm_layers(stats, cpu_ns, ops):
    return {"jvm.gc_ms": stats["gc_ms"],
            "jvm.heap_used_peak_mb": stats["heap_used_peak_mb"],
            "jvm.cpu_ms_per_op": cpu_ns / 1e6 / ops}


def client_split(records):
    ms = [r.ms for r in records if r.ok]
    w = [r.ms for r in records if r.ok and r.stmt.write]
    rd = [r.ms for r in records if r.ok and not r.stmt.write]
    return {"client.op_p90_ms": wireload.quantile(ms, 0.9),
            "client.write_p50_ms": statistics.median(w) if w else 0.0,
            "client.read_p50_ms": statistics.median(rd) if rd else 0.0}


def result(correct, attempted, failed, metrics):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _require_clean(outcome, what):
    if outcome.failed or outcome.mismatches:
        bad = [r.error for r in outcome.records if not r.ok] + outcome.mismatches
        raise RuntimeError(f"{what} did not run clean: {bad[:3]}")


def run_bi(ctx):
    eng = ctx.engine(["serve"])
    try:
        duck = seed.duck_tables()  # while the engine JVM starts
        port = eng.read()["port"]
        log("engine up")
        setup_out = wireload.Outcome()
        client = wire.Client(port)
        bi.setup(client, setup_out)
        client.close()
        _require_clean(setup_out, "seeding")
        log("seeded")
        if not ctx.trace:
            count = bi.window_statements(ctx.seconds)
            seqs = bi.sequences(duck, ctx.seed, bi.rounds_for(bi.WARM_STMTS + count))
            steal0 = steal_ticks()
            out, window, wall, start = wireload.drive_window(
                port, seqs, bi.WARM_STMTS, count)
            setup_s = ctx.setup_s(start)
            k = min(bi.PARTS, len(window))
            cuts = [i * len(window) // k for i in range(k + 1)]
            finish = [start] + [r.t1 for r in window]
            parts = [(b - a, finish[b] - finish[a]) for a, b in zip(cuts, cuts[1:])]
            log(f"window: {len(window)} statements in {wall:.2f}s after "
                f"{bi.WARM_STMTS} warm-up ones, steal {steal_ticks() - steal0} ticks "
                f"over the whole drive; rate by part " +
                " ".join(f"{n / s:.2f}" for n, s in parts))
            timed = {id(r) for r in window}
            if any(not r.ok for r in out.records if id(r) not in timed):
                raise RuntimeError("a statement outside the window failed")
            failed = sum(1 for r in window if not r.ok)
            metrics = e2e_metrics([r.ms for r in window if r.ok], parts,
                                  setup_s, eng.peak_rss_mb())
        else:
            warm = bi.sequences(duck, f"{ctx.seed}/warm-up", 1)
            warm_out, *_ = wireload.drive_window(port, warm, 0, bi.WARM_STMTS)
            _require_clean(warm_out, "warm-up")
            log("warmed up")
            cpu0 = eng.call("mark")["cpu_ns"]
            out, wall = wireload.drive(port, bi.sequences(duck, ctx.seed, 1),
                                       TRACE_GAP_S)
            cpu_ns = eng.call("cpu")["cpu_ns"] - cpu0
            log(f"traced phase: {len(out.records)} statements in {wall:.2f}s")
            window, failed = out.records, out.failed
            directs = [(st.cls, eng.call("direct", bi.direct_text(st)))
                       for c in (0, 1)
                       for st in bi.client_round(duck, bi.rng_for(ctx.seed, c), c)]
            stats = eng.call("stats")
            layers = wireload.wire_layers(out.records, stats, directs)
            layers.update(client_split(out.records))
            layers.update(jvm_layers(stats, cpu_ns, len(out.records)))
            metrics = layer_metrics(layers)
        for m in out.mismatches[:5]:
            print(f"MISMATCH {m}", file=sys.stderr)
        return result(not out.mismatches, len(window), failed, metrics)
    finally:
        eng.close()


def run_lakehouse(ctx):
    eng = ctx.engine(["serve"])
    try:
        port = eng.read()["port"]
        log("engine up")
        client = wire.Client(port)
        setup_out = wireload.Outcome()
        lakehouse.setup(client, setup_out)
        wl = lakehouse.Workload(ctx.seed)
        last = [eng.call("snapshots", "demo.orders")["count"]]

        def play(outcome, rounds, gap_s=0.0, on_write=None):
            """Run rounds; return how many row-changing writes FINISHED
            without a new commit in the manifest store, and each round's
            (statements, seconds)."""
            uncommitted = 0
            parts = []
            for _ in range(rounds):
                t0 = time.monotonic()
                n0 = len(outcome.records)
                for st, apply in wl.round_statements():
                    rec = wireload.execute(client, st, outcome)
                    if rec.ok and apply:
                        apply()
                    if st.write:
                        n = eng.call("snapshots", "demo.orders")["count"]
                        if rec.ok and st.cls in lakehouse.COMMITTING and n == last[0]:
                            uncommitted += 1
                        last[0] = n
                        if on_write:
                            on_write()
                    if gap_s:
                        time.sleep(gap_s)
                parts.append((len(outcome.records) - n0, time.monotonic() - t0))
            return uncommitted, parts

        play(setup_out, 1)
        _require_clean(setup_out, "set-up and warm-up")
        log("warmed up")
        commits0 = last[0]
        cpu0 = eng.call("mark")["cpu_ns"]
        setup_s = ctx.setup_s()
        steal0 = steal_ticks()
        rounds = max(1, round(ctx.seconds / lakehouse.ROUND_SECONDS))
        out = wireload.Outcome()
        seen = lakehouse.table_files(ctx.warehouse)
        written = [0]

        def scan():
            now = lakehouse.table_files(ctx.warehouse)
            written[0] += sum(s for p, s in now.items() if p not in seen)
            seen.update(now)

        t0 = time.monotonic()
        uncommitted, parts = play(out, rounds,
                           TRACE_GAP_S if ctx.trace else 0.0,
                           scan if ctx.trace else None)
        wall = time.monotonic() - t0
        cpu_ns = eng.call("cpu")["cpu_ns"] - cpu0
        log(f"timed phase: {len(out.records)} statements in {wall:.2f}s, "
            f"{uncommitted} writes without a commit, "
            f"steal {steal_ticks() - steal0} ticks")
        commits = last[0] - commits0
        head_files = eng.call("snapshots", "demo.orders")["head_files"]
        files = lakehouse.table_files(ctx.warehouse)
        for m in out.mismatches[:5]:
            print(f"MISMATCH {m}", file=sys.stderr)
        if not ctx.trace:
            metrics = e2e_metrics([r.ms for r in out.records if r.ok], parts,
                                  setup_s, eng.peak_rss_mb())
        else:
            # the layers timed in process: one more round whose writes
            # go through the launcher; its reads still check the model
            directs = []
            direct_out = wireload.Outcome()
            for st, apply in wl.round_statements():
                if st.cls in lakehouse.COMMITTING:
                    directs.append((st.cls, eng.call("direct", st.sql)))
                    apply()
                else:
                    rec = wireload.execute(client, st, direct_out)
                    if rec.ok and apply:
                        apply()
            _require_clean(direct_out, "direct round")
            directs.append(("timetravel", eng.call(
                "direct", f"SELECT count(*) FROM {lakehouse.TABLE} "
                f"FOR VERSION AS OF '{next(iter(wl.tags))}'")))
            directs.append(("chart", eng.call("direct", wl.agg_read().sql)))
            stats = eng.call("stats")
            layers = wireload.wire_layers(out.records, stats, directs)
            layers.update(client_split(out.records))
            driver = [a["sql_ms"] + a["collect_ms"] -
                      wireload.job_union_ms(stats, a["start"], a["end"])
                      for cls, a in directs if cls in lakehouse.COMMITTING]
            layers.update({
                "storage.commits": commits,
                "storage.bytes_written_per_commit": written[0] / max(1, commits),
                "storage.live_data_files": head_files,
                "storage.metadata_bytes": sum(
                    s for p, s in files.items() if not lakehouse.is_data(p)),
                "storage.driver_ms_per_commit": statistics.mean(driver),
                "storage.stored_bytes_per_row": sum(files.values()) / len(wl.rows),
            })
            layers.update(jvm_layers(stats, cpu_ns, len(out.records)))
            metrics = layer_metrics(layers)
        client.close()
        return result(not out.mismatches, len(out.records),
                      out.failed + uncommitted, metrics)
    finally:
        eng.close()


def run_ext(ctx, passes=None):
    data_dir = ctx.run_dir / "data"
    out_dir = ctx.run_dir / "out"
    data_dir.mkdir(parents=True)
    out_dir.mkdir()
    extloops.generate(data_dir, ctx.seed)
    passes = passes or extloops.timed_passes(ctx.seconds)
    eng = ctx.engine(["ext", str(data_dir), str(out_dir), str(passes),
                      ",".join(extloops.ENTRIES)])
    try:
        steal0 = steal_ticks()
        ans = eng.read()
        rss = eng.peak_rss_mb()
        log(f"steal {steal_ticks() - steal0} ticks over set-up and timed passes")
    finally:
        eng.close()
    log("timed passes: " + ", ".join(f"{o[0]} {o[1]:.0f}ms" for o in ans["ops"]))
    mismatches = extloops.check(data_dir, out_dir)
    for m in mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    ops = ans["ops"]
    if not ctx.trace:
        metrics = e2e_metrics([o[1] for o in ops], [(1, o[1] / 1000.0) for o in ops],
                              ctx.setup_s(ans["timed_start"] / 1000.0), rss)
    else:
        n = len(ops)
        jobs = [j for j in ans["jobs"] if j[3] in extloops.ENTRIES]
        layers = {
            "exec.jobs_per_op": len(jobs) / n,
            "exec.stages_per_op": sum(j[4] for j in jobs) / n,
            "exec.tasks_per_op": sum(j[5] for j in jobs) / n,
            "exec.task_cpu_ms_per_op": sum(j[6] for j in jobs) / n / 1e6,
            "exec.shuffle_write_bytes_per_op": sum(j[7] for j in jobs) / n,
            "exec.spill_bytes_per_op": sum(j[8] for j in jobs) / n,
        }
        layers.update(jvm_layers(ans, ans["cpu_ns"], n))
        qes = [q for q in ans["qes"]
               if ans["timed_start"] <= q[1] <= ans["timed_end"]]
        for i, key in ((3, "analysis"), (4, "optimization"), (5, "planning")):
            layers[f"catalyst.{key}_ms"] = sum(q[i] for q in qes) / n
        for e in extloops.ENTRIES:
            mine = [j for j in jobs if j[3] == e]
            layers[f"ext.{e}.wall_s"] = statistics.mean(
                o[1] for o in ops if o[0] == e) / 1000.0
            layers[f"ext.{e}.jobs"] = len(mine) / passes
            layers[f"ext.{e}.shuffle_mb"] = sum(j[7] for j in mine) / passes / 1e6
            layers[f"ext.{e}.task_cpu_s"] = sum(j[6] for j in mine) / passes / 1e9
        metrics = layer_metrics(layers)
    return result(not mismatches, len(ops), 0, metrics)


def run_lakehouse_and_ext(ctx):
    """`lakehouse_write`; its traced run also runs `ext_loops`, traced, in
    a JVM of its own after the lakehouse one has quit, and adds that run's
    `ext.*` layer. BENCHMARK.json lists only the two wire workloads (the
    time all runs may take left no room for a third at a steady length),
    so this is where the ext layer is measured."""
    res = run_lakehouse(ctx)
    if ctx.trace:
        ctx.warehouse = ctx.run_dir / "ext-warehouse"
        ext = run_ext(ctx, FOLDED_EXT_PASSES)
        res["correct"] = res["correct"] and ext["correct"]
        for name, m in ext["metrics"].items():
            if name.startswith("ext."):
                res["metrics"][name] = m
    return res


WORKLOADS = {"bi_dashboard": run_bi, "lakehouse_write": run_lakehouse_and_ext,
             "ext_loops": run_ext}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = Path.cwd()
    run_base = root / ".perfbench_run"
    run_dir = run_base / f"{args.workload}-{os.getpid()}"

    def on_signal(signum, _frame):
        raise RunTimeout(f"signal {signum}")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGALRM, on_signal)
    try:
        run_dir.mkdir(parents=True)
        classpath, build_s = engine.build(root, engine.LAUNCHER_BUILD / "target" / "build.log")
        signal.alarm(DEADLINE_S)
        res = WORKLOADS[args.workload](Ctx(args, run_dir, classpath, build_s))
        signal.alarm(0)
    except engine.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_base.rmdir()
        except OSError:
            pass
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
