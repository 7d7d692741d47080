"""Tracing for the ``--trace 1`` run.

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory
  and writes them out once, at the end of the run.
- ``PhaseListener`` is a ``QueryExecutionListener`` registered through
  the py4j callback server: for every query Spark executes it records
  the analysis, optimization and planning phase summaries, which are
  attributed to the op whose span contains the phase start.
- ``TraceSwitch`` puts the event log writer and the phase listener on
  the listener bus for a traced op only, so the untraced ops of a
  traced run run as in an untraced run.
- ``parse_event_log`` reads the Spark event log (uncompressed JSON
  lines) with ``json`` and folds jobs, stages, task metrics and the
  final adaptive plans onto ops through the ``perfbench.op`` local
  property that tags every job of an op.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

OP_PROPERTY = "perfbench.op"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op_id: int | None = None):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = {
                    "id": len(tracer.spans), "name": name, "op": op_id,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "start": time.time(), "end": None,
                }
                tracer.spans.append(self.rec)
                tracer._stack.append(self.rec["id"])
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                tracer._stack.pop()
                return False

        return _Span()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover
        (children never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


class PhaseListener:
    """org.apache.spark.sql.util.QueryExecutionListener over py4j."""

    def __init__(self):
        self.events: list[tuple[float, float]] = []  # (start epoch s, secs)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        try:
            it = qe.tracker().phases().iterator()
            start, total = None, 0
            while it.hasNext():
                summary = it.next()._2()
                total += summary.durationMs()
                s = summary.startTimeMs()
                start = s if start is None else min(start, s)
            if start is not None:
                self.events.append((start / 1000.0, total / 1000.0))
        except Exception:  # noqa: BLE001 — never fail the listener bus
            pass

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class TraceSwitch:
    """Starts off: the event log writer (on since session start, so
    set-up is logged) is taken off the listener bus."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases = PhaseListener()
        self._manager = spark._jsparkSession.listenerManager()
        self._sc = spark.sparkContext._jsc.sc()
        self._logger = self._sc.eventLogger().get()
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._logger)

    def on(self) -> None:
        self._sc.addSparkListener(self._logger)
        self._manager.register(self.phases)

    def off(self) -> None:
        # both listeners are fed from the asynchronous bus: let them see
        # every event of the op before they leave it
        self._sc.listenerBus().waitUntilEmpty()
        self._manager.unregister(self.phases)
        self._sc.removeSparkListener(self._logger)


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _plan_counts(info: dict) -> tuple[int, int]:
    exchanges = scans = 0
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name.endswith("Exchange"):
            exchanges += 1
        if name.startswith("Scan ") or name.endswith("Scan") \
                or name.startswith("FileScan") or name.startswith("BatchScan"):
            scans += 1
        stack.extend(node.get("children", []))
    return exchanges, scans


def parse_event_log(event_dir: str) -> dict:
    """Per op id: jobs, stages, tasks, failed tasks, executor CPU, GC,
    shuffle fetch wait, spill, input bytes/records, shuffle bytes
    written, and the exchange/scan counts of each SQL execution's final
    (adaptive) plan."""
    files = sorted(
        f for f in glob.glob(f"{event_dir}/**/*", recursive=True)
        if os.path.isfile(f)
    )
    per_op = defaultdict(lambda: defaultdict(float))
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    plans: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get(OP_PROPERTY)
                    if op is None:
                        continue
                    per_op[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_op[int(eid)] = op
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_op:
                        per_op[stage_op[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    agg = per_op[op]
                    agg["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") \
                            != "Success":
                        agg["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    inp = m.get("Input Metrics") or {}
                    agg["input_bytes"] += inp.get("Bytes Read", 0)
                    agg["input_records"] += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans.setdefault(ev["executionId"], ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    # the last update of an execution is its final plan
                    plans[ev["executionId"]] = ev.get("sparkPlanInfo", {})
    for eid, op in exec_op.items():
        if eid in plans:
            ex, sc = _plan_counts(plans[eid])
            per_op[op]["plan_exchanges"] += ex
            per_op[op]["plan_scans"] += sc
    return {op: dict(v) for op, v in per_op.items()}


def retained_cached_bytes(spark) -> int:
    """Memory + disk bytes of every RDD block still held (persist and
    localCheckpoint blocks the run left behind)."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total
