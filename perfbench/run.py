"""Benchmark of the spreadsheet ETL engine: one command per workload.

    python3 perfbench/run.py --workload etl_job --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
``.bench_cache/``), starts the engine's Spark session, runs each kind of
operation once untimed as a warm-up, then repeats whole cycles
until ``--seconds`` have passed, checks the outputs and prints one JSON
object as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` repeats the timed phase with span
tracing on and reports the per-layer metrics instead.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", help="input size tier (full, small)")
    p.add_argument("--inject-broken", action="store_true",
                   help="add one operation that must fail (etl_job; for the tests)")
    return p.parse_args(argv)


# --- host evidence -------------------------------------------------------------

def cpu_probe() -> float:
    """The fixed single-threaded loop bench.py times as contention evidence."""
    start = time.perf_counter()
    acc = 0
    for i in range(6_000_000):
        acc += i * i & 0xFFFF
    return time.perf_counter() - start


def _tree_pss_bytes(root_pid: int) -> int:
    """Proportional resident memory of ``root_pid`` and its descendants.

    PSS rather than RSS: forked Python workers share most pages with their
    daemon, and summing RSS would count those pages once per worker."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


# --- the timed loop --------------------------------------------------------------

class Loop:
    """Runs whole cycles of a workload's operations and records each one."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            op.run()
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{op.kind}: {type(exc).__name__}: {exc}"[:300])
            return None
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """The workload's warm-up operations, untimed: they pay JIT, code
        generation and Python worker start-up before the timed phase."""
        ops: list = []
        while len(ops) < self.workload.WARM_UP_OPS:
            ops += self.workload.cycle()
        for op in ops[:self.workload.WARM_UP_OPS]:
            self.run_op(op)

    def cycles(self, seconds: float) -> dict:
        """Whole cycles, at least one, until ``seconds`` have passed."""
        lat: list[tuple[str, float]] = []
        rows = 0
        done = 0
        start = time.perf_counter()
        while done == 0 or time.perf_counter() - start < seconds:
            for op in self.workload.cycle():
                dt = self.run_op(op)
                if dt is not None:
                    lat.append((op.kind, dt))
                    rows += op.rows
            done += 1
        return {"lat": lat, "rows": rows, "wall": time.perf_counter() - start, "cycles": done}


def percentile_report(values: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (omitted when the sample cannot support one)."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "p50": statistics.median(vals) if vals else None}
    if n > 20:
        p = 100 * (n - 10) // n
        out["tail_pct"] = p
        out["tail"] = vals[min(n - 1, (p * n) // 100)]
    return out


# --- main --------------------------------------------------------------------

def main(argv=None) -> int:
    t_main = time.time()
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import spreadsheet_etl_engine_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import session_start
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def _deadline(*_):
        raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    session_start.configure_env()
    run_dir = os.path.join(session_start.work_root(), f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    started = time.time() - session_start.since_process_start()
    spark = session_start.start_session(f"perfbench-{args.workload}")
    setup_s = session_start.since_process_start()
    ready = time.time()

    import inputs

    t = time.perf_counter()
    data_dir, manifest, generated = inputs.ensure_inputs(ROOT, args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t

    wl = workloads.WORKLOADS[args.workload](spark, data_dir, manifest, run_dir)
    loop = Loop(wl)
    sampler = None
    try:
        wl.start()
        load_before = os.getloadavg()[0]
        probe_before = cpu_probe()
        phases = {"setup_done": ready - t_main, "inputs_done": time.time() - t_main}
        loop.warm_up()
        phases["warm_up_done"] = time.time() - t_main
        if args.inject_broken:
            loop.run_op(wl.broken_op())
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark.sparkContext)
            tracer.add_span("session", "get_spark", started, ready)
            timed, traced = alternate(loop, tracer, args.seconds)
        else:
            sampler = RssSampler()
            sampler.start()
            timed = loop.cycles(args.seconds)
            peak_rss = sampler.stop()
        phases["timed_done"] = time.time() - t_main
        checks = wl.checks()
        phases["checks_done"] = time.time() - t_main
        if args.trace:
            layer = trace_report(spark, tracer, wl, manifest, timed, traced, checks)
        probe_after = cpu_probe()
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        wl.stop()
        session_start.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    signal.alarm(0)

    lat = [dt for _, dt in timed["lat"]]
    pct = percentile_report(lat)
    by_kind: dict[str, list[float]] = {}
    for kind, dt in timed["lat"]:
        by_kind.setdefault(kind, []).append(dt)
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "inputs_generated": generated, "cycles": timed["cycles"], "ops": len(lat),
        "op_latency": pct,
        "op_p50_by_kind_s": {k: round(statistics.median(v), 4) for k, v in by_kind.items()},
        "op_latencies_s": [(k, round(dt, 4)) for k, dt in timed["lat"]],
        "setup_s": round(setup_s, 4),
        "checks": checks, "errors": loop.errors,
        "harness": {"gen_s": gen_s, "cpu_probe_before_s": probe_before,
                    "cpu_probe_after_s": probe_after, "load_avg_1m": load_before},
        "phases_s": phases, "run_wall_s": time.time() - t_main,
    }
    if hasattr(wl, "stream_events"):
        report["event_latency"] = percentile_report([lat for _, lat in wl.stream_events])
    print("perfbench report: " + json.dumps(report, default=float), file=sys.stderr)

    if args.trace:
        layer["harness.gen_s"] = (gen_s, "s")
        layer["harness.cpu_probe_before_s"] = (probe_before, "s")
        layer["harness.cpu_probe_after_s"] = (probe_after, "s")
        layer["harness.load_avg_1m"] = (load_before, "load")
        layer["harness.fail_ratio"] = (loop.failed / max(1, loop.attempted), "ratio")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "throughput_rows_per_s": {"value": timed["rows"] / timed["wall"], "unit": "rows/s"},
            "op_p50_s": {"value": pct["p50"], "unit": "s"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MiB"},
        }
    print(json.dumps({"correct": bool(checks["ok"]), "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0


def alternate(loop: Loop, tracer, seconds: float) -> tuple[dict, dict]:
    """Pairs of one untraced and one traced cycle, the order flipping each
    pair, until the untraced cycles add up to ``seconds``.  Interleaving
    keeps warm-up drift out of the tracing-overhead ratio."""
    phases = {False: [], True: []}
    windows = []
    spent = 0.0
    i = 0
    while spent < seconds:
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if traced:
                tracer.install()
                t0 = time.time()
            try:
                res = loop.cycles(0)
            finally:
                if traced:
                    tracer.uninstall()
                    windows.append((t0, time.time()))
            phases[traced].append(res)
            if not traced:
                spent += res["wall"]
        i += 1

    def merge(parts):
        return {"lat": [x for p in parts for x in p["lat"]], "rows": sum(p["rows"] for p in parts),
                "wall": sum(p["wall"] for p in parts), "cycles": len(parts)}

    traced = merge(phases[True])
    traced["windows"] = windows
    return merge(phases[False]), traced


def trace_report(spark, tracer, wl, manifest, timed, traced, checks) -> dict:
    """Per-layer metrics of the traced cycles, keyed ``<layer>.<field>``."""
    import tracing
    from workloads import progress_start

    windows = traced["windows"]

    def in_traced(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    sc = spark.sparkContext
    stream_group = None
    progress = []
    if getattr(wl, "query", None) is not None:
        stream_group = str(wl.query.runId)
        progress = [p for p in wl.query.recentProgress
                    if p["numInputRows"] > 0 and in_traced(progress_start(p))]
        for p in progress:
            t0 = progress_start(p)
            tracer.add_span("streaming.dedup", "micro_batch", t0,
                            t0 + p["durationMs"].get("triggerExecution", 0) / 1000.0)
    tracing.wait_for_listeners(sc)
    jobs = [j for j in tracing.fetch_jobs(sc) if in_traced(j["t0"])]
    per = tracing.layer_metrics(tracer.spans, jobs, stream_group)
    units = {"calls": "count", "wall_s": "s", "self_s": "s", "spark_jobs": "count",
             "spark_tasks": "count", "executor_cpu_s": "s", "input_bytes": "bytes",
             "shuffle_bytes": "bytes", "output_bytes": "bytes", "driver_gap_s": "s"}
    out = {f"{layer}.{f}": (v, units[f]) for layer, fields in per.items() for f, v in fields.items()}

    w = per["sources.writers"]
    out["sources.writers.bytes_per_input_byte"] = (
        w["output_bytes"] / w["input_bytes"] if w["input_bytes"] else 0.0, "ratio")
    xl = per["sources.xlsx_native"]
    wb_cells = sum(c for t, c in getattr(wl, "workbook_runs", []) if in_traced(t))
    out["sources.xlsx_native.cells_per_s"] = (wb_cells / xl["wall_s"] if xl["wall_s"] else 0.0,
                                              "cells/s")

    # connected_components calls no other traced function, so its jobs are
    # exactly those of its own spans.
    cc = {f"perfbench-span-{s['id']}" for s in tracer.spans if s["name"] == "connected_components"}
    cc_jobs = sum(1 for j in jobs if j["group"] in cc)
    out["operators.dedup.components_jobs"] = (cc_jobs / len(cc) if cc else 0.0, "jobs/call")
    out["operators.dedup.candidate_pairs"] = (checks.get("candidate_pairs", 0), "pairs")
    out["operators.dedup.useful_pair_ratio"] = (checks.get("useful_pair_ratio", 0.0), "ratio")
    out["operators.dedup.pair_recall"] = (checks.get("dup_pair_recall", 0.0), "ratio")
    out["operators.dedup.pair_precision"] = (checks.get("dup_pair_precision", 0.0), "ratio")

    train = sum(s["t1"] - s["t0"] for s in tracer.spans if s["name"] == "train_pq_codebooks" and s["t1"])
    pq_wall = sum(s["t1"] - s["t0"] for s in tracer.spans if s["name"] == "topk_pq" and s["t1"])
    out["operators.similarity.train_s"] = (train, "s")
    out["operators.similarity.query_s"] = (max(0.0, pq_wall - train), "s")
    out["operators.similarity.recall_at_k"] = (checks.get("ann_recall_at_k", 0.0), "ratio")

    for phase in ("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets"):
        vals = [p["durationMs"].get(phase, 0) for p in progress]
        out[f"streaming.dedup.batch_ms.{phase}"] = (statistics.mean(vals) if vals else 0.0, "ms")
    state = progress[-1]["stateOperators"][0] if progress and progress[-1]["stateOperators"] else {}
    out["streaming.dedup.state_rows"] = (state.get("numRowsTotal", 0), "rows")
    out["streaming.dedup.state_mem_bytes"] = (state.get("memoryUsedBytes", 0), "bytes")
    ev = [lat for t, lat in getattr(wl, "stream_events", []) if in_traced(t)]
    out["streaming.dedup.event_latency_p50_s"] = (statistics.median(ev) if ev else 0.0, "s")
    out["streaming.dedup.pair_recall"] = (checks.get("stream_pair_recall", 0.0), "ratio")

    out["harness.trace_overhead_ratio"] = (traced["wall"] / timed["wall"], "ratio")
    out["harness.output_mismatch_rows"] = (checks.get("output_mismatch_rows", 0), "rows")
    write_spans(tracer.spans, jobs)
    return out


def write_spans(spans, jobs) -> None:
    """Spans and jobs of the traced phase, for reading after the run."""
    out = os.path.join(ROOT, ".bench_results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{os.getpid()}.json"), "w") as f:
        json.dump({"spans": spans, "jobs": jobs}, f)


if __name__ == "__main__":
    sys.exit(main())
