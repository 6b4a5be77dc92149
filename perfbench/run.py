#!/usr/bin/env python3
"""The repository benchmark: one workload per process, from the root of a
checkout.

    python3 perfbench/run.py --workload interactive_sql --seed 1 \\
        --seconds 17 --trace 0

The run reads the engine's fixture tables (perfbench/data holds
byte-identical copies of the sf0.001, sf0.01 and sf0.1 fixtures; each
workload names its scale, ``--data`` overrides it), draws its operations
from ``--seed``, computes every expected answer with DuckDB, and keeps
every file it writes in a fresh scratch directory in the checkout
(``.perfbench/run-<pid>``: MV tiles, the versioned table, warehouse,
Spark local dirs and temp files), removed at exit. Then:

1. sets up once, cold, in this fresh process: Spark session start
   (JVM launch), catalog registration, MV tile build, the workload's own
   fixtures, and one warm-up cycle of the workload's operations, checked;
   ``setup_s`` is all of it;
2. runs the closed loop for about ``--seconds`` of client time, ending on
   the whole cycle nearest it, and checks every answer.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
engine's layer functions (perfbench/trace.py) and traces every kind of
operation in every other cycle (``traced_in``), so the traced and the
untraced half run the same mix interleaved in time; it prints the
per-layer metrics of the traced half with ``trace.overhead_s`` = traced
minus untraced median latency, and writes the spans to
``.perfbench/traces/<workload>-seed<seed>.jsonl``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds diagnostics (sample counts, tail sample count,
error rate, host calibration and the CPU share stolen by other virtual
machines while measuring, session conf drift). The run exits non-zero
without a result when the engine cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import hashlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DATA = os.path.join("perfbench", "data")
# bench.py's host-calibration kernel at half its iterations (~0.25 s)
CALIB_ITERS = 5_000
DRIFT_CONFS = ("spark.sql.groupByOrdinal", "spark.sql.caseSensitive")
MODIFY_KINDS = ("insert", "update", "delete", "merge", "compact",
                "read_versioned")
LAYERS = ("session", "catalog", "plans", "sql", "spark", "operators",
          "modify")


def calib_kernel() -> float:
    buf = b"\x5a" * 65536
    h = hashlib.sha256()
    start = time.perf_counter()
    for _ in range(CALIB_ITERS):
        h.update(buf)
    elapsed = time.perf_counter() - start
    h.hexdigest()
    return elapsed


def _cpu_jiffies() -> "list[int]":
    """The host's aggregate CPU time counters (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_share(before: "list[int]", after: "list[int]") -> float:
    """Share of the host's CPU time taken by other virtual machines."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Sample:
    __slots__ = ("kind", "traced", "latency", "ok", "error", "rows",
                 "counters", "written", "space")

    def __init__(self, kind: str, traced: bool) -> None:
        self.kind, self.traced = kind, traced
        self.latency, self.ok, self.error = 0.0, False, None
        self.rows, self.counters = 0, None
        self.written, self.space = 0, None


def traced_in(kind: str, cycle: int) -> bool:
    """Whether operations of ``kind`` are traced in ``cycle`` of a traced
    run: every kind alternates, so any two consecutive cycles trace and
    leave untraced the same mix, interleaved in time."""
    return (zlib.crc32(kind.encode()) + cycle) % 2 == 1


class Runner:
    """Runs a workload's cycles on its closed-loop clients."""

    def __init__(self, wl, spark, mvs, tracer, counters) -> None:
        self.wl, self.spark, self.mvs = wl, spark, mvs
        self.tracer, self.counters = tracer, counters
        self.next_cycle = [1] * wl.clients
        self._op_ids = itertools.count(1)
        self._lock = threading.Lock()

    def run_op(self, op, traced: bool) -> Sample:
        s = Sample(op.kind, traced)
        group = None
        if self.tracer is not None:
            self.tracer.enabled = traced  # per client thread
        if traced:
            with self._lock:
                op_id = next(self._op_ids)
            group = f"perfbench-op-{op_id}"
            self.counters.start(group)
        start = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op", op=op_id, kind=op.kind):
                    result = op.run(self.spark)
            else:
                result = op.run(self.spark)
            s.latency = time.perf_counter() - start
            s.ok = bool(op.check(result))
            if result is not None:
                s.rows = len(result[1])
            if not s.ok:
                s.error = "wrong answer"
        except Exception as e:  # a failed op is counted, the loop goes on
            s.latency = time.perf_counter() - start
            s.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}" \
                if str(e) else type(e).__name__
        if op.writes and s.ok:
            s.written, total = self.wl.write_stats()
            s.space = total / s.written
            s.rows = op.rows_changed
        if self.tracer is not None:
            self.tracer.enabled = False
        if traced:
            s.counters = self.counters.finish(group)
        return s

    def loop(self, seconds: float, trace: bool) -> "tuple[list, float]":
        """Closed loop: each client runs whole cycles and stops on the
        cycle boundary nearest ``seconds`` of time spent on operations
        (at least the workload's ``min_cycles``; with ``trace``, an even
        number, half of each kind's operations traced). Returns (samples, ops/s summed over
        clients); building a cycle (and any DuckDB replay in it) is off
        the clock."""
        out: list[list[Sample]] = [[] for _ in range(self.wl.clients)]
        busy = [0.0] * self.wl.clients

        def client(c: int) -> None:
            done = 0
            while True:
                n = self.next_cycle[c]
                ops = self.wl.cycle(c, n, self)
                self.next_cycle[c] += 1
                start = time.perf_counter()
                for op in ops:
                    out[c].append(self.run_op(
                        op, trace and traced_in(op.kind, n)))
                took = time.perf_counter() - start
                busy[c] += took
                done += 1
                if done >= self.wl.min_cycles \
                        and busy[c] + took / 2 >= seconds \
                        and not (trace and done % 2):
                    break

        if self.wl.clients == 1:
            client(0)
        else:
            with concurrent.futures.ThreadPoolExecutor(self.wl.clients) as ex:
                for f in [ex.submit(client, c)
                          for c in range(self.wl.clients)]:
                    f.result()
        rate = sum(len(o) / b for o, b in zip(out, busy) if b > 0)
        return [s for o in out for s in o], rate


def latency_stats(samples) -> dict:
    lat = sorted(s.latency for s in samples if s.ok)
    if not lat:
        return {"p50": float("nan"), "p90": float("nan"), "n": 0, "tail": 0}
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] \
        if len(lat) > 1 else lat[0]
    return {"p50": statistics.median(lat), "p90": p90, "n": len(lat),
            "tail": sum(1 for x in lat if x > p90)}


def layer_metrics(tracer, traced_samples, overhead) -> "tuple[dict, float]":
    """Per-layer metrics from the traced operations' spans and the
    set-up's spans, and the largest share of an op's wall time its layer
    spans' self times add up to (at most 1)."""
    selfs = tracer.self_times()
    spans = tracer.spans
    roots = {s.op: s for s in spans if s.name == "op"}
    n_ops = max(1, len(roots))
    setup: dict[str, float] = {}
    per_op: dict[str, float] = {}
    calls: dict[str, list[float]] = {}
    layer_self = dict.fromkeys(roots, 0.0)
    errors = dict.fromkeys(LAYERS, 0)
    failed_parents = {s.parent for s in spans if s.error}
    hits = attempts = 0
    for s in spans:
        if s.op == -1:  # the set-up
            setup[s.name] = setup.get(s.name, 0.0) + selfs[s.id]
            continue
        if s.op not in roots or s.name == "op":
            continue
        per_op[s.name] = per_op.get(s.name, 0.0) + selfs[s.id]
        calls.setdefault(s.name, []).append(selfs[s.id])
        layer_self[s.op] += selfs[s.id]
        layer = s.name.split(".")[0]
        if s.error and s.id not in failed_parents and layer in errors:
            errors[layer] += 1  # counted where it was raised
        if s.name == "plans.substitute":
            attempts += 1
            hits += bool(s.attrs.get("hit"))
    share = max((layer_self[o] / (r.end - r.start)
                 for o, r in roots.items()), default=0.0)

    ok = [s for s in traced_samples if s.counters]
    n = max(1, len(ok))

    def cnt(key):
        return sum(s.counters[key] for s in ok)

    writes = [s for s in traced_samples if s.written]
    m = {
        "session.start_s": setup.get("session.start", 0.0),
        "catalog.register_s": setup.get("catalog.register", 0.0),
        "plans.mv_build_s": setup.get("plans.mv_build", 0.0),
        "sql.rewrite_s": per_op.get("sql.rewrite", 0.0) / n_ops,
        "sql.calcite_sql_s": per_op.get("sql.calcite_sql", 0.0) / n_ops,
        "plans.substitute_s": per_op.get("plans.substitute", 0.0) / n_ops,
        "plans.substitute_hit_ratio": hits / attempts if attempts else 0.0,
        "spark.plan_s": per_op.get("spark.plan", 0.0) / n_ops,
        "spark.exec_s": per_op.get("spark.exec", 0.0) / n_ops,
        "spark.jobs_per_op": cnt("jobs") / n,
        "spark.tasks_per_op": cnt("tasks") / n,
        "spark.rows_scanned_per_row_returned": cnt("rows_scanned") / max(
            1, sum(s.rows for s in ok if not s.written)),
        "spark.shuffle_bytes_per_op": cnt("shuffle_bytes") / n,
        "operators.exec_s": (per_op.get("operators.call", 0.0)
                             + per_op.get("operators.exec", 0.0)) / n_ops,
        "operators.py_bytes_per_op": cnt("py_bytes") / n,
    }
    for k in MODIFY_KINDS:
        c = calls.get(f"modify.{k}", [])
        m[f"modify.{k}_s"] = sum(c) / len(c) if c else 0.0
    m["modify.bytes_written_per_op"] = \
        sum(s.written for s in writes) / len(writes) if writes else 0.0
    for layer in LAYERS:
        m[f"{layer}.errors"] = float(errors[layer])
    m["trace.overhead_s"] = overhead
    return m, share


def amplification(samples, bytes_per_row: float) -> dict:
    """write_amp: bytes written / (rows changed x stored bytes per row at
    set-up); space_amp: median of bytes under the table dir / live bytes
    after each write. Both 0 on workloads that write nothing."""
    writes = [s for s in samples if s.written]
    if not writes:
        return {"write_amp": 0.0, "space_amp": 0.0}
    changed = sum(s.rows for s in writes)
    return {"write_amp": sum(s.written for s in writes)
            / max(1.0, changed * bytes_per_row),
            "space_amp": statistics.median(s.space for s in writes)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=None,
                    help="directory of the fixture parquet tables "
                         "(default: the workload's own scale)")
    args = ap.parse_args(argv)

    # read when the engine's session module is imported
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    try:
        import drill_calcite_spark  # noqa: F401  the program under test
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    conf = _scratch_env(run_dir)

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    wl = None
    try:
        data = args.data or os.path.join(DATA, WORKLOADS[args.workload].data)
        data_dir = os.path.abspath(os.path.join(ROOT, data))
        wl = WORKLOADS[args.workload](data_dir, args.seed)
        wl.prepare()

        tracer = trace.Tracer() if args.trace else None
        if tracer is not None:
            tracer.install()
            tracer.enabled = True
        start = time.perf_counter()
        with (tracer.span("setup", op=-1) if tracer
              else contextlib.nullcontext()):
            spark, mvs = _set_up(wl, data_dir, run_dir, conf)
        if tracer is not None:
            tracer.enabled = False
        build_s = time.perf_counter() - start

        runner = Runner(wl, spark, mvs, tracer,
                        trace.SparkCounters(spark) if tracer else None)
        before = {k: spark.conf.get(k) for k in DRIFT_CONFS}
        warm_start = time.perf_counter()
        warm = [runner.run_op(op, False) for op in wl.cycle(0, 0, runner)]
        warmup_s = time.perf_counter() - warm_start
        setup_s = build_s + warmup_s

        calib = [calib_kernel()]
        cpu_before = _cpu_jiffies()
        samples, rate = runner.loop(args.seconds, trace=bool(args.trace))
        steal = _steal_share(cpu_before, _cpu_jiffies())
        calib.append(calib_kernel())
        after = {k: spark.conf.get(k) for k in DRIFT_CONFS}

        stats = latency_stats(samples)
        failed = sum(not s.ok for s in samples)
        if not stats["n"]:
            raise RuntimeError(f"every operation failed: {samples[0].error}")
        jvm = spark.sparkContext._gateway.proc.pid
        # per-layer, not end-to-end: with the program's own 16g heap, peak
        # RSS differs by up to a third between runs (G1 grows the heap at
        # varying points), more than any end-to-end bound allows
        rss = {"driver.peak_rss_mb": _hwm_mb(os.getpid()),
               "jvm.peak_rss_mb": _hwm_mb(jvm)}
        amp = amplification(samples, getattr(wl, "bytes_per_row", 0.0))
        if args.trace:
            traced = [s for s in samples if s.traced]
            traced_p50 = latency_stats(traced)["p50"]
            plain_p50 = latency_stats([s for s in samples
                                       if not s.traced])["p50"]
            overhead = traced_p50 - plain_p50
            metrics, share = layer_metrics(tracer, traced, overhead)
            metrics.update(rss, **amp,
                           error_rate=failed / max(1, len(samples)))
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            trace_path = os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_path)
            extra = {"trace_file": trace_path,
                     "trace.traced_p50_s": traced_p50,
                     "trace.untraced_p50_s": plain_p50,
                     "trace.overhead_s": overhead,
                     "trace.max_layer_share_of_op": share}
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": stats["p50"],
                "latency_p90_s": stats["p90"],
                "ops_per_s": rate,
            }
            extra = {**amp, **rss}
        diagnostics = {
            "workload": args.workload, "seed": args.seed,
            "data": data,
            "samples": stats["n"], "samples_beyond_p90": stats["tail"],
            "cycles": [n - 1 for n in runner.next_cycle],
            "error_rate": failed / max(1, len(samples)),
            "errors": sorted({f"{s.kind}: {s.error}" for s in samples + warm
                              if s.error})[:8],
            "setup_s": setup_s, "warmup_s": warmup_s,
            "warmup_failed": sum(not s.ok for s in warm),
            "host.calib_s": min(calib), "host.calib_each_s": calib,
            "host.steal_share": steal,
            "sql.conf_drift": {k: {"before": before[k], "after": after[k]}
                               for k in DRIFT_CONFS if before[k] != after[k]},
            "per_kind_p50_s": {
                k: statistics.median(s.latency for s in samples
                                     if s.kind == k and s.ok)
                for k in sorted({s.kind for s in samples if s.ok})},
            **extra,
        }
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer" if args.trace
                                     else "end_to_end"]
        units = {m["name"]: m["unit"] for m in declared}
        if set(units) != set(metrics):
            raise RuntimeError(f"metrics {sorted(metrics)} differ from "
                               f"BENCHMARK.json's {sorted(units)}")
        print(json.dumps({"diagnostics": diagnostics}))
        print(json.dumps({
            "correct": failed == 0 and diagnostics["warmup_failed"] == 0,
            "attempted": len(samples), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units}}))
        return 0
    finally:
        try:
            if wl is not None:
                wl.close()
            _shutdown(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _scratch_env(run_dir: str) -> dict:
    """Point every scratch path of the run (Spark local dirs, warehouse,
    JVM and Python temp files) into ``run_dir``; returns the Spark conf."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # the program's own heap setting; only JVM temp files are redirected
    return {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def _set_up(wl, data_dir: str, out_dir: str, conf: dict):
    """Session start, catalog registration, MV tiles and the workload's
    fixtures. Returns (spark, the MV registry)."""
    from drill_calcite_spark import catalog, session

    from perfbench.workloads import build_tiles

    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    dfs = catalog.register_tables(spark, data_dir)
    mvs = build_tiles(spark, dfs, out_dir)
    wl.fixtures(spark, out_dir)
    return spark, mvs


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (its Python workers exit with it)."""
    if spark is None:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        SparkContext._gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
