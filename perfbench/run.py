#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one fresh process.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_sf1 --seed 1 --seconds 5 --trace 0

Steps, in order:

1. Generate (or reuse) the seeded dataset and the DuckDB oracle's
   expected result digests for the workload's ops. Both are cached per
   seed under ``perfbench/.cache`` and timed apart from set-up.
2. Set up ``SETUPS`` times: start the SparkSession, register the tables
   and warm the scan and result paths. ``setup_s`` is their median. The
   first set-up also launches the JVM and the first SparkContext, the
   cost paid once per process; it is reported as ``cold_setup_s``.
3. Run the measured pass: every op of the workload once, one after
   another (a closed loop with one client), each for the first time in
   this process, its result collected to the client through the
   ``DFRayDataFrame.collect`` facade. If the pass took less than
   ``--seconds``, warm passes follow until that much time has passed;
   they are reported but not in the metrics.
4. Outside the timed region: after each op, read memory and the bytes
   written; after each pass, check every result against its oracle
   digest and read Spark's counters.

Spark runs as ``local[nproc]`` with a driver heap of a quarter of host RAM
(at most 1 GiB), set through ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``. ``--trace 1`` runs the measured pass traced
(spans around each call into a layer plus Spark's status-store counters)
and gives the per-layer metrics; see ``per_layer`` for its extra passes.

Standard output ends with a report line (every end-to-end or per-layer
metric with its unit and sample count, the host stamp and the
correctness result) followed by the result line of the benchmark
contract: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.check import OracleCache, result_digest  # noqa: E402
from perfbench.probes import (  # noqa: E402
    SparkCounters, bytes_written, cpu_times, descendants, dir_stats, file_sigs,
    peak_rss_mb, steal_share)
from perfbench.spans import Tracer, layer_self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, tables_read  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
#: set-ups per run; ``setup_s`` is their median, ``cold_setup_s`` the first
SETUPS = 3
#: a run is flagged as contended when the 1-minute load per CPU at its
#: start is above CONTENDED_LOAD (a previous benchmark run on all cores
#: leaves about 1.0 behind it) or when other guests of the host took more
#: than CONTENDED_STEAL of the CPU time during it (steal time; measured
#: runs slowed by up to 2x when the host was busy)
CONTENDED_LOAD = 1.25
CONTENDED_STEAL = 0.05

E2E_UNITS = {
    "setup_s": "s", "cold_setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
    "op_p50_s": "s", "op_tail_s": "s", "op_fail_ratio": "ratio",
    "peak_rss_mb": "MB", "write_amp": "ratio", "space_amp": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.cold_start_s": "s", "sources.register_s": "s",
    "sources.input_mb": "MB", "sources.input_rows": "rows",
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "plans.plan_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.task_skew": "ratio",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.reused": "count", "exchange.spill_mb": "MB",
    "python.sent_mb": "MB", "python.recv_mb": "MB", "python.rows": "rows",
    "python.stage_busy_s": "s",
    "jvm.gc_ms": "ms", "jvm.codegen_n": "count", "jvm.heap_mb": "MB",
    "context.collect_s": "s", "context.compute_s": "s",
    "context.transfer_s": "s", "context.result_mb": "MB",
    "sinks.output_mb": "MB", "sinks.files_written": "count",
    "sinks.dir_mb": "MB", "sinks.write_amp": "ratio", "sinks.space_amp": "ratio",
    "trace.overhead_ratio": "ratio",
}
#: the end-to-end metrics of the result line: those defined on every
#: workload and never zero (``op_fail_ratio`` is the line's own
#: ``failed``/``attempted``; the amplifications exist on index_write only),
#: and steady enough to gate (``cold_setup_s``, one sample per process,
#: swings with the host's load beyond any bound a gated metric may have)
CONTRACT_E2E = ("setup_s", "pass_s", "rows_per_s", "op_p50_s", "op_tail_s",
                "peak_rss_mb")
MB = 2**20


def host_resources() -> dict:
    ncpu = os.cpu_count() or 1
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / MB
    return {"nproc": ncpu, "ram_mb": round(ram_mb),
            "driver_heap_mb": int(min(1024, ram_mb / 4))}


def load_per_cpu() -> float:
    return os.getloadavg()[0] / (os.cpu_count() or 1)


class Bench:
    """One workload's session, op runners and pass loop."""

    def __init__(self, wl, registry: dict, data_dir: str, manifest: dict,
                 expected: dict, work: str, tracer):
        self.wl, self.registry, self.data_dir = wl, registry, data_dir
        self.manifest, self.expected = manifest, expected
        self.work, self.tracer = work, tracer
        self.reads = {op: tables_read(self.registry[op].oracle) for op in wl.ops}
        self.tables = sorted({t for op in wl.ops for t in self.reads[op]})
        self.spark = self.ctx = self.counters = self.jvm_pid = None
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # temp files under the run's own dir; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        self.rows_seen: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        from datafusion_ray_spark.context import DFRayContext
        from datafusion_ray_spark.session import build_session
        from datafusion_ray_spark.sources.tables import TPCH_TABLES, register_tables

        if self.spark is not None:
            self.spark.stop()
        tempfile.tempdir = self._fresh_dir("warmup")
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = build_session(app_name="perfbench", extra_conf=self.conf)
        with self.tracer.span("sources.register"):
            if self.wl.facade:
                self.ctx = DFRayContext(spark=self.spark)
                for t in TPCH_TABLES:
                    self.ctx.register_parquet(
                        t, os.path.join(self.data_dir, f"{t}.parquet"))
            else:
                register_tables(self.spark, self.data_dir)
        with self.tracer.span("bench.warmup"):
            # scan, aggregate and collect the largest input table once: starts
            # the scan and result paths without running (and so without
            # pre-compiling) any op of the workload
            largest = max(self.tables, key=self.manifest["bytes"].get)
            self.spark.sql(f"SELECT count(*) FROM {largest}").collect()
        elapsed = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)
        self.jvm_pid = self.counters.jvm_pid()
        return elapsed

    def _fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    # -- one op ---------------------------------------------------------
    def run_op(self, op: str, rec: dict):
        """Build, (when traced) plan, and collect one op; returns the
        facade frame and its Arrow batches."""
        from datafusion_ray_spark.context import DFRayDataFrame
        from datafusion_ray_spark.queries.tpch import TPCH_QUERIES

        tr = self.tracer
        if tr.enabled:
            self.counters.drain()
            job0 = self.counters.job_mark()
        with tr.span("operators.build", op):
            if self.wl.facade:
                frame = self.ctx.sql(TPCH_QUERIES[op].sql)
            else:
                frame = DFRayDataFrame(self.registry[op].run(self.spark, self.data_dir))
        if tr.enabled:
            self.counters.drain()
            rec["eager_jobs"] = self.counters.job_mark() - job0
            with tr.span("plans.plan", op):
                frame.df._jdf.queryExecution().executedPlan()
        with tr.span("context.collect", op):
            batches = frame.collect()
        return frame, batches

    # -- one pass -------------------------------------------------------
    def run_pass(self, traced: bool, probe: bool = False) -> dict:
        """One pass over the op list. ``traced`` records spans and Spark
        counters; ``probe`` also runs each op's plan once more into a
        noop sink (outside the pass time) to split compute from transfer."""
        tr, c = self.tracer, self.counters
        tr.enabled = traced
        pass_dir = self._fresh_dir("pass") if self.wl.writes else None
        if pass_dir:
            tempfile.tempdir = pass_dir
        if tr.enabled:
            c.drain()
            job0, sql0, jvm0 = c.job_mark(), c.sql_mark(), c.jvm()
        ops, excluded, rss = [], 0.0, {"total_mb": 0.0}
        if pass_dir:
            sigs, written = file_sigs(pass_dir), 0
        t0 = time.perf_counter()
        for op in self.wl.ops:
            rec = {"op": op, "err": None, "eager_jobs": 0, "compute_s": 0.0}
            t = time.perf_counter()
            frame = batches = None
            try:
                with tr.span("bench.op", op):
                    frame, batches = self.run_op(op, rec)
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                rec["err"] = f"{type(e).__name__}: {e}"[:400]
                traceback.print_exc(file=sys.stderr)
            rec["s"] = time.perf_counter() - t
            if probe and frame is not None:
                tc = time.perf_counter()
                with tr.span("context.compute", op):
                    frame.df.write.format("noop").mode("overwrite").save()
                rec["compute_s"] = time.perf_counter() - tc
                excluded += rec["compute_s"]
            self.spark.catalog.clearCache()
            rec["frame"], rec["batches"] = frame, batches
            ops.append(rec)
            ts = time.perf_counter()
            rss = max(rss, peak_rss_mb(self.jvm_pid), key=lambda r: r["total_mb"])
            if pass_dir:
                # Spark writers and the ops' own Python writers alike
                after = file_sigs(pass_dir)
                written += bytes_written(sigs, after)
                sigs = after
            excluded += time.perf_counter() - ts
        t1 = time.perf_counter()
        pass_s = t1 - t0 - excluded
        # ---- outside the timed region ----
        for rec in ops:
            self._check(rec)
        out = {"pass_s": pass_s, "ops": ops, "t0": t0, "t1": t1, "rss": rss}
        if tr.enabled:
            c.drain()
            out["stages"] = c.stages_since(job0)
            out["plans"] = c.plans_since(sql0)
            jvm1 = c.jvm()
            out["jvm"] = {"gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
                          "codegen_n": jvm1["codegen_n"] - jvm0["codegen_n"],
                          "heap_mb": jvm1["heap_mb"]}
        if pass_dir:
            nbytes, nfiles = dir_stats(pass_dir)
            ingested = sum(self.manifest["bytes"][t]
                           for op in self.wl.ops for t in self.reads[op])
            held = sum(self.manifest["bytes"][t] for t in self.tables)
            out["sinks"] = {
                "dir_bytes": nbytes, "files": nfiles, "written_bytes": written,
                "write_amp": stats.write_amp(written, ingested),
                "space_amp": stats.space_amp(nbytes, held),
            }
        for rec in ops:
            rec.pop("frame"), rec.pop("batches")
        return out

    def _check(self, rec: dict) -> None:
        """Compare one op result with the oracle digest (or, for ops
        without oracle SQL, with the row count of its first run)."""
        rec["ok"] = False
        if rec["err"]:
            return
        batches = rec["batches"]
        tbl = (pa.Table.from_batches(batches) if batches
               else rec["frame"].to_arrow_schema().empty_table())
        rec["result_mb"] = tbl.nbytes / MB
        rows, digest = result_digest(tbl.to_pandas())
        rec["rows"] = rows
        want = self.expected[rec["op"]]
        if want["digest"] is None:
            rec["ok"] = self.rows_seen.setdefault(rec["op"], rows) == rows
        else:
            rec["ok"] = digest == want["digest"] and rows == want["rows"]
        if not rec["ok"]:
            rec["err"] = (f"result mismatch: {rows} rows digest {digest}, "
                          f"oracle {want['rows']} rows digest {want['digest']}")

    def stop(self) -> None:
        """Stop the session, then end the JVM and its Python workers and
        wait until every one of them has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        left = descendants(self.jvm_pid) if self.jvm_pid else []
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while left and time.monotonic() < deadline:
            left = [p for p in left if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in left:
            os.kill(p, signal.SIGKILL)


def end_to_end(wl, p: dict, setups: list[float], input_rows: int) -> dict:
    """The end-to-end metrics of the measured (first, untraced) pass."""
    op_s = [r["s"] for r in p["ops"]]
    n_ops = len(op_s)
    tail = stats.tail(op_s)
    m = {
        "setup_s": {"value": statistics.median(setups), "n": len(setups)},
        "cold_setup_s": {"value": setups[0], "n": 1},
        "pass_s": {"value": p["pass_s"], "n": 1},
        "rows_per_s": {"value": input_rows / p["pass_s"], "n": 1,
                       "input_rows": input_rows},
        "op_p50_s": {"value": statistics.median(op_s), "n": n_ops},
        "op_tail_s": {"value": tail["value"], "n": n_ops, "pct": tail["pct"],
                      "beyond": tail["beyond"]},
        "op_fail_ratio": {"value": sum(not r["ok"] for r in p["ops"]) / n_ops,
                          "n": n_ops},
        "peak_rss_mb": {"value": p["rss"]["total_mb"], "n": 1, **p["rss"]},
    }
    if wl.writes:
        for k in ("write_amp", "space_amp"):
            m[k] = {"value": p["sinks"][k], "n": 1}
    for k, v in m.items():
        v["unit"] = E2E_UNITS[k]
    return m


def per_layer(cold: dict, probe: dict, warm: dict, spans: list[dict],
              setups: list[float]) -> dict:
    """Every per-layer metric, from the three passes of a traced run.

    Counters and span totals come from the cold traced pass, the
    counterpart of the pass ``pass_s`` measures; set-up spans give the
    median of the set-ups. The context compute and
    transfer split comes from the warm traced pass, where re-running a plan
    into a noop sink does not pay first-run compilation; the tracing
    overhead is that pass over the warm untraced pass after it (which
    has warmed further, so the ratio errs high).
    ``context.transfer_s`` is collect minus noop-sink time and can be
    negative when a result is tiny."""

    def span_total(name: str, p: dict) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and p["t0"] <= s["start"] <= p["t1"])

    def span_median(name: str) -> dict:
        vals = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return {"value": statistics.median(vals), "n": len(vals)}

    st, pl, jv, ops = cold["stages"], cold["plans"], cold["jvm"], cold["ops"]
    sinks = cold.get("sinks", {})
    collect = span_total("context.collect", probe)
    compute = sum(r["compute_s"] for r in probe["ops"])
    values = {
        "sources.input_mb": st["input_bytes"] / MB,
        "sources.input_rows": st["input_rows"],
        "operators.build_s": span_total("operators.build", cold),
        "operators.eager_jobs": sum(r["eager_jobs"] for r in ops),
        "plans.plan_s": span_total("plans.plan", cold),
        "exec.jobs": st["jobs"], "exec.stages": st["stages"],
        "exec.tasks": st["tasks"], "exec.task_busy_s": st["task_busy_s"],
        "exec.task_skew": st["task_skew"],
        "exchange.shuffle_write_mb": st["shuffle_write_bytes"] / MB,
        "exchange.shuffle_read_mb": st["shuffle_read_bytes"] / MB,
        "exchange.reused": pl["reused"],
        "exchange.spill_mb": st["spill_bytes"] / MB,
        "python.sent_mb": pl["py_sent_bytes"] / MB,
        "python.recv_mb": pl["py_recv_bytes"] / MB,
        "python.rows": pl["py_rows"],
        "python.stage_busy_s": pl["py_busy_s"],
        "jvm.gc_ms": jv["gc_ms"], "jvm.codegen_n": jv["codegen_n"],
        "jvm.heap_mb": jv["heap_mb"],
        "context.collect_s": collect, "context.compute_s": compute,
        "context.transfer_s": collect - compute,
        "context.result_mb": sum(r.get("result_mb", 0.0) for r in ops),
        "sinks.output_mb": sinks.get("written_bytes", 0) / MB,
        "sinks.files_written": sinks.get("files", 0),
        "sinks.dir_mb": sinks.get("dir_bytes", 0) / MB,
        "sinks.write_amp": sinks.get("write_amp", 0.0),
        "sinks.space_amp": sinks.get("space_amp", 0.0),
        "trace.overhead_ratio": probe["pass_s"] / warm["pass_s"],
    }
    out = {k: {"value": v, "n": 1} for k, v in values.items()}
    out["session.start_s"] = span_median("session.start")
    out["sources.register_s"] = span_median("sources.register")
    out["session.cold_start_s"] = {"value": setups[0], "n": 1}
    out["trace.overhead_ratio"].update(
        traced_pass_s=probe["pass_s"], untraced_pass_s=warm["pass_s"])
    for k, v in out.items():
        v["unit"] = LAYER_UNITS[k]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datafusion_ray_spark")):
        print("perfbench: the engine package datafusion_ray_spark is not in "
              f"{ROOT}; nothing to measure", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    t_start = time.perf_counter()
    res = host_resources()
    load_start, cpu_start = load_per_cpu(), cpu_times()
    work = os.path.join(CACHE, "work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Parallelism and heap reach the engine only through its own
    # environment variables, read when its session module is imported.
    os.environ["SPARK_GRAFT_CPUS"] = str(res["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{res['driver_heap_mb']}m"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first writes no
    # hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from datafusion_ray_spark.hostinfo import host_epoch
    from datafusion_ray_spark.queries.registry import build_registry

    # one dataset serves every workload, so a seed is generated once
    data_dir, manifest = datagen.ensure_dataset(
        os.path.join(CACHE, "data"), args.seed)
    registry = build_registry()
    oracle = OracleCache(data_dir)
    expected = oracle.expected({op: registry[op].oracle for op in wl.ops})

    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(wl, registry, data_dir, manifest, expected, work, tracer)
    try:
        setups = [bench.setup() for _ in range(SETUPS)]
        t0 = time.perf_counter()
        if args.trace:
            # a cold traced pass for the layer split of the measured pass,
            # then a warm traced and a warm untraced pass for the
            # compute/transfer split and the tracing overhead
            passes = [bench.run_pass(traced=True),
                      bench.run_pass(traced=True, probe=True),
                      bench.run_pass(traced=False)]
        else:
            passes = [bench.run_pass(traced=False)]
            while time.perf_counter() - t0 < args.seconds:
                passes.append(bench.run_pass(traced=False))
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    read_tables = bench.tables
    input_rows = sum(manifest["rows"][t] for t in read_tables)
    e2e = None if args.trace else end_to_end(wl, passes[0], setups, input_rows)
    load_end, steal = load_per_cpu(), steal_share(cpu_start, cpu_times())
    failures = [{"op": r["op"], "err": r["err"]}
                for p in passes for r in p["ops"] if not r["ok"]]
    attempted = sum(len(p["ops"]) for p in passes)
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host_epoch(), **res, "load1_per_cpu_start": load_start,
                 "load1_per_cpu_end": load_end, "steal_share": steal,
                 "contended": load_start > CONTENDED_LOAD or steal > CONTENDED_STEAL},
        "data": {"dir": os.path.relpath(data_dir, ROOT), "tables_read": read_tables,
                 "input_rows": input_rows,
                 "input_mb": sum(manifest["bytes"][t] for t in read_tables) / MB,
                 "gen_s": manifest["gen_s"], "gen_cached": manifest["cached"],
                 "oracle_s": oracle.compute_s},
        "end_to_end": e2e,
        "setups_s": setups,
        "passes_s": [p["pass_s"] for p in passes],
        "op_s": {r["op"]: r["s"] for r in passes[0]["ops"]},
        "correct": not failures, "attempted": attempted, "failures": failures,
        "wall_s": time.perf_counter() - t_start,
    }
    if args.trace:
        report["per_layer"] = per_layer(*passes, tracer.spans, setups)
        report["self_s"] = layer_self_times(
            [s for s in tracer.spans if passes[0]["t0"] <= s["start"] <= passes[0]["t1"]])
        trace_dir = os.path.join(CACHE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"))
    print(json.dumps({"report": report}))
    if args.trace:
        metrics = {k: report["per_layer"][k] for k in LAYER_UNITS}
    else:
        metrics = {k: e2e[k] for k in CONTRACT_E2E}
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
