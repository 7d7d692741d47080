#!/usr/bin/env python3
"""Closed-loop benchmark of hbase_spark: one client thread, one
SparkSession on local[nproc], one workload per process.

    python3 perfbench/run.py --workload cell_api --seed 1 \\
        --seconds 5 --trace 0

Set-up (session, seeded inputs, layouts/tables/models, a warm-up pass
that also checks every (op, parameter) output) is followed by a timed
window of whole passes over the workload's op schedule.  The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it is a JSON report with provenance and per-kind detail.
Exits non-zero if any op failed or any output check did not hold.

See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
RUN_DIR = os.path.join(CHECKOUT, ".perfbench_run")
OUT_DIR = os.path.join(CHECKOUT, ".perfbench_out")
# driver JVM heap, initial = maximum
HEAP = "2g"

E2E = {
    "setup_s": "s",
    "throughput_ops_s": "ops/s",
    "latency_p50_geomean_s": "s",
    "peak_rss_mb": "MB",
    "bytes_stored_per_user_byte": "ratio",
}
# also in the report line, not in the result line: the error rate is 0
# on every good run (the result line carries attempted and failed)
REPORTED = {**E2E, "error_rate": "fraction"}
PER_OP = {"construct_s": "s", "plan_s": "s", "execute_s": "s",
          "jobs": "count", "shuffle_bytes": "bytes"}
SHARED = {
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.retained_cached_bytes": "bytes",
    "plan.exchanges": "count", "plan.scans": "count",
    "operators.rows_examined_per_result": "ratio",
    "admin.flush.bytes_written_per_user_byte": "ratio",
    "streaming.state_rows": "count", "streaming.batches": "count",
    "trace.overhead_ratio": "ratio",
}


def per_layer_names(workloads) -> dict[str, str]:
    out = {}
    for wl in workloads.values():
        for kind, layer in wl.KINDS.items():
            for m, unit in PER_OP.items():
                out[f"{layer}.{kind}.{m}"] = unit
    out.update(SHARED)
    return out


# ------------------------------------------------------------ environment

def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot (0 where /proc/stat does not report it)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def other_spark_jvm() -> bool:
    """Is another SparkSubmit JVM alive (a concurrent run skews every
    timing)?"""
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                    return True
        except OSError:
            continue
    return False


class RssSampler:
    """Peak of (driver JVM RSS + this process's RSS), sampled from
    /proc every 20 ms while running."""

    def __init__(self, pids):
        self.pids = pids
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._rss())
            self._stop.wait(0.02)

    def __enter__(self):
        self.peak = self._rss()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._rss())
        return False


def start_session(work: str, cpus: int, traced: bool):
    """The library's session (hbase_spark.sources.tables.get_spark),
    with every path the JVM writes kept inside the run's work dir.
    Static settings are set first, by the getOrCreate that launches
    the JVM; get_spark then applies its SQL settings to the same
    session.

    The heap is fixed at HEAP (initial = maximum), not pre-touched.
    A growable heap (get_spark's 24g maximum) let G1 size it as GC
    timing dictated, which moved peak RSS by 20 % between runs of one
    seed set, and let one run hold several GB of a machine it shares.
    A fixed heap is touched as eden cycles through it, so resident
    memory still follows what the workload keeps live.  The heap does
    not follow SPARK_GRAFT_DRIVER_MEM: it is part of what the benchmark
    measures, and a maximum set below the initial size would stop the
    JVM from starting."""
    from pyspark.sql import SparkSession

    from hbase_spark.sources.tables import get_spark

    conf = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work}/tmp -Xms{HEAP}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if traced:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf = (
            conf.config("spark.eventLog.enabled", "true")
            # uncompressed: the default codec needs zstd to read back
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", f"file://{work}/events")
        )
    conf.getOrCreate()
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()  # JVM warm-up
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (killing it if it has not exited within a minute)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ stats

def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def latency_summary(lat: dict[str, list[float]]) -> dict:
    """p50 per kind and their geometric mean, so each kind counts
    equally."""
    p50 = {k: statistics.median(v) for k, v in lat.items() if v}
    return {"p50_by_kind": p50, "p50_geomean_s": geomean(p50.values()),
            "samples": {k: len(v) for k, v in lat.items()}}


# ----------------------------------------------------------------- runner

class Runner:
    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_failures: list[str] = []
        self.op_id = 0
        self.records: list[dict] = []
        self.switch = None
        from tracing import Tracer

        self.tracer = Tracer()

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def run_op(self, wl, op, traced: bool) -> None:
        from pyspark.sql import DataFrame

        from tracing import OP_PROPERTY

        self.op_id += 1
        sc = self.spark.sparkContext
        if traced:
            self.switch.on()
            sc.setLocalProperty(OP_PROPERTY, str(self.op_id))
            sc.setJobDescription(f"perfbench {op.kind} #{self.op_id}")
        layer = wl.KINDS[op.kind]
        rec = {"id": self.op_id, "kind": op.kind, "param": op.param,
               "pass": op.pass_no, "traced": traced, "ok": False}
        self.attempted += 1
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            if traced:
                with self.tracer.span(f"{layer}.{op.kind}", self.op_id):
                    with self.tracer.span(f"{layer}.construct", self.op_id) as c:
                        work = wl.build(op)
                    with self.tracer.span(f"{layer}.execute", self.op_id) as e:
                        self._execute(work, DataFrame)
                rec["construct_s"] = c["end"] - c["start"]
                rec["execute_s"] = e["end"] - e["start"]
            else:
                self._execute(wl.build(op), DataFrame)
            rec["ok"] = True
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{op.kind}: {traceback.format_exc(limit=3)}")
            self.log(self.errors[-1])
        rec["latency_s"] = time.perf_counter() - t0
        rec["wall"] = (w0, time.time())
        if traced:
            sc.setLocalProperty(OP_PROPERTY, None)
            sc.setJobDescription(None)
            self.switch.off()
        if rec["ok"]:
            wl.after_op(op)
            rec.update(getattr(wl, "last_stats", None) or {})
            wl.last_stats = None
        self.records.append(rec)

    @staticmethod
    def _execute(work, frame_type) -> None:
        if isinstance(work, frame_type):
            work.write.format("noop").mode("overwrite").save()
        else:
            work()

    def main(self) -> int:
        import inputs
        import workloads

        args = self.args
        wl_cls = workloads.WORKLOADS[args.workload]
        scale = inputs.SCALES[args.scale]
        cpus = len(os.sched_getaffinity(0))
        prov = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
            "loadavg_at_start": os.getloadavg(),
            "other_spark_jvm_alive": other_spark_jvm(),
            "scale": args.scale,
        }
        os.makedirs(RUN_DIR, exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                                dir=RUN_DIR)
        os.makedirs(f"{work}/tmp", exist_ok=True)
        os.environ["TMPDIR"] = f"{work}/tmp"
        tempfile.tempdir = f"{work}/tmp"
        try:
            return self._main(wl_cls, scale, cpus, prov, work)
        finally:
            try:
                if getattr(self, "spark", None) is not None:
                    stop_jvm(self.spark)
            finally:
                shutil.rmtree(work, ignore_errors=True)

    def _main(self, wl_cls, scale, cpus, prov, work) -> int:
        import inputs
        import tracing
        import workloads

        args = self.args
        spark = self.spark = start_session(work, cpus, self.traced)
        prov["spark_version"] = spark.version
        t_session = time.perf_counter() - T_START

        # set-up: seeded inputs, then the workload's tables and models
        t0 = time.perf_counter()
        meta = inputs.write_all(f"{work}/inputs", args.seed, scale)
        prov["inputs_s"] = time.perf_counter() - t0
        wl = wl_cls(spark, meta, f"{work}/workload", args.seed, scale)
        os.makedirs(wl.work, exist_ok=True)
        wl.setup()
        t_build = time.perf_counter() - t0
        prov["input_sizes"] = meta["sizes"]

        # warm-up pass = output-check pass: every (kind, parameter) once
        t0 = time.perf_counter()
        rows_returned: dict = {}
        check_s: dict[str, float] = {}
        pools = {k: wl._pools.setdefault(k, wl.params(k)) for k in wl.KINDS}
        for i in range(max(len(p) for p in pools.values())):
            for kind, pool in pools.items():
                if i >= len(pool):
                    continue
                op = workloads.Op(kind, pool[i], -1 - i)
                t_check = time.perf_counter()
                try:
                    rows_returned[(kind, op.param)] = wl.check(op)
                    wl.after_op(op)
                except Exception:  # noqa: BLE001
                    self.check_failures.append(
                        f"{kind} {op.param}: {traceback.format_exc(limit=4)}")
                    self.log(self.check_failures[-1])
                check_s[kind] = check_s.get(kind, 0.0) + (
                    time.perf_counter() - t_check)
        t_warm = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        # timed window: whole passes until --seconds have elapsed
        pids = [os.getpid(),
                spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()]
        min_passes = 2 if self.traced else 1
        passes = 0
        if self.traced:
            self.switch = tracing.TraceSwitch(spark)
        steal0 = cpu_steal_s()
        t_win = time.perf_counter()
        with RssSampler(pids) as rss:
            while True:
                # a traced run traces every other op, flipped each pass,
                # so over two passes each op of the schedule runs both
                # ways; tracing is switched on for the traced ops only
                for i, op in enumerate(wl.schedule(passes)):
                    self.run_op(wl, op, self.traced and (i + passes) % 2 == 1)
                passes += 1
                if args.passes and passes >= args.passes:
                    break
                if (not args.passes and passes >= min_passes
                        and time.perf_counter() - t_win >= args.seconds):
                    break
        window = time.perf_counter() - t_win
        # a host busy with other guests slows every op of a run alike
        prov["cpu_steal_s_in_window"] = cpu_steal_s() - steal0

        try:
            wl.final_check()
        except Exception:  # noqa: BLE001
            self.check_failures.append(f"final: {traceback.format_exc(limit=4)}")
            self.log(self.check_failures[-1])
        stored = wl.stored_ratio()

        ok = [r for r in self.records if r["ok"]]
        lat_all: dict[str, list[float]] = {k: [] for k in wl.KINDS}
        for r in ok:
            if not r["traced"]:
                lat_all[r["kind"]].append(r["latency_s"])
        lat = latency_summary(lat_all)
        untraced = [r for r in ok if not r["traced"]]
        e2e = {
            "setup_s": setup_s,
            "throughput_ops_s": len(untraced) / sum(r["latency_s"] for r in untraced)
            if self.traced else len(ok) / window,
            "latency_p50_geomean_s": lat["p50_geomean_s"],
            "peak_rss_mb": rss.peak / 2**20,
            "bytes_stored_per_user_byte": stored,
            "error_rate": self.failed / max(self.attempted, 1),
        }
        layer_metrics = None
        if self.traced:
            retained = tracing.retained_cached_bytes(spark)
            tracing.drain_listener_bus(spark)
        stop_jvm(spark)
        self.spark = None
        if self.traced:
            layer_metrics = self.per_layer(wl, retained, rows_returned, work)
        correct = not self.check_failures and self.failed == 0
        report = {
            "provenance": prov,
            "setup": {"session_s": t_session, "build_s": t_build,
                      "warm_check_s": t_warm, "check_s_by_kind": check_s},
            "window_s": window, "passes": passes,
            "latency": lat, "check_failures": len(self.check_failures),
            "end_to_end": {k: {"value": e2e[k], "unit": u}
                           for k, u in REPORTED.items()},
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
        with open(f"{OUT_DIR}/{tag}.json", "w") as fh:
            json.dump({**report, "per_layer": layer_metrics,
                       "ops": self.records}, fh, indent=1, default=str)
        if self.traced:
            self.tracer.write(f"{OUT_DIR}/{tag}.spans.json")
        print(json.dumps(report, default=str))
        units = per_layer_names(workloads.WORKLOADS) \
            if self.traced else E2E
        values = layer_metrics if self.traced else e2e
        print(json.dumps({
            "correct": correct, "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()},
        }))
        if not correct:
            self.log(f"error_rate={e2e['error_rate']:.4f} "
                     f"check_failures={len(self.check_failures)}")
            return 1
        return 0

    def per_layer(self, wl, retained, rows_returned, work) -> dict:
        import workloads
        from tracing import parse_event_log

        spark_ops = parse_event_log(f"{work}/events")
        traced = [r for r in self.records if r["traced"] and r["ok"]]
        for r in traced:
            w0, w1 = r["wall"]
            r["plan_s"] = r.get("plan_s", 0.0) + sum(
                d for s, d in self.switch.phases.events if w0 <= s <= w1)
            r["spark"] = spark_ops.get(str(r["id"]), {})
        out = {name: 0.0 for name in per_layer_names(workloads.WORKLOADS)}
        for kind, layer in wl.KINDS.items():
            rs = [r for r in traced if r["kind"] == kind]
            if not rs:
                continue
            med = statistics.median
            out[f"{layer}.{kind}.construct_s"] = med(r["construct_s"] for r in rs)
            out[f"{layer}.{kind}.plan_s"] = med(r["plan_s"] for r in rs)
            out[f"{layer}.{kind}.execute_s"] = med(r["execute_s"] for r in rs)
            out[f"{layer}.{kind}.jobs"] = med(r["spark"].get("jobs", 0) for r in rs)
            out[f"{layer}.{kind}.shuffle_bytes"] = med(
                r["spark"].get("shuffle_bytes", 0) for r in rs)
        n = max(len(traced), 1)

        def mean(key):
            return sum(r["spark"].get(key, 0) for r in traced) / n

        for key in ("stages", "tasks", "executor_cpu_s", "gc_s",
                    "shuffle_fetch_wait_s", "spill_bytes", "input_bytes"):
            out[f"spark.{key}"] = mean(key)
        out["spark.failed_tasks"] = sum(
            v.get("failed_tasks", 0) for v in spark_ops.values())
        out["spark.retained_cached_bytes"] = retained
        out["plan.exchanges"] = mean("plan_exchanges")
        out["plan.scans"] = mean("plan_scans")
        examined = [r for r in traced if r["kind"] in workloads.CellReads.KINDS
                    and rows_returned.get((r["kind"], r["param"]))]
        if examined:
            out["operators.rows_examined_per_result"] = sum(
                r["spark"].get("input_records", 0) for r in examined) / sum(
                rows_returned[(r["kind"], r["param"])] for r in examined)
        ratios = getattr(wl, "flush_ratios", [])
        if ratios:
            out["admin.flush.bytes_written_per_user_byte"] = statistics.median(
                ratios)
        streamed = [r for r in traced if "batches" in r]
        if streamed:
            out["streaming.state_rows"] = sum(
                r["state_rows"] for r in streamed) / len(streamed)
            out["streaming.batches"] = sum(
                r["batches"] for r in streamed) / len(streamed)
        untr = [r for r in self.records if not r["traced"] and r["ok"]]
        t_untr = len(untr) / sum(r["latency_s"] for r in untr)
        t_tr = len(traced) / sum(r["latency_s"] for r in traced)
        out["trace.overhead_ratio"] = t_untr / t_tr
        return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["cell_api", "doc_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["default", "tiny", "x2", "x4"],
                   default="default",
                   help="input sizes (inputs.SCALES); x2/x4 check which "
                        "ops are data-bound")
    p.add_argument("--passes", type=int, default=0,
                   help="run exactly this many passes (self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(CHECKOUT, "hbase_spark")):
        print("perfbench: hbase_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    sys.path.insert(0, HERE)
    # Python UDF workers import hbase_spark too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    return Runner(args).main()


if __name__ == "__main__":
    sys.exit(main())
