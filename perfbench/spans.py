"""Spans around the benchmark's calls into each layer, and the per-layer
table built from them and from Spark's event log.

A span is (name, start, end, parent, op). Spans stay in memory and are
written out when the run ends. Inside a span every Spark job carries the
description ``<workload>:<layer>``, so each stage, task and SQL-node metric
in the event log is attributed to exactly one layer. A layer's self time is
its span minus its child spans; the op span's self time is the glue between
layers, so the self times of one op add up to its wall time.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from collections import defaultdict

from common import median

#: SQL metric names (Spark 4.1) read from the event log
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
FILES_READ = "number of files read"
#: local property carrying the op id into each job's properties
OP_PROPERTY = "perfbench.op"


class Tracer:
    """Collects spans; a disabled tracer costs one attribute test per call."""

    def __init__(self, workload: str, spark=None, enabled: bool = False):
        self.workload = workload
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.op = None
        self.counts: dict[int, dict[str, float]] = defaultdict(dict)
        self._cached: list = []

    def boundary(self, df):
        """Traced: materialize ``df`` here (cached), so the next layer's span
        starts from a materialized input and covers only that layer."""
        if not self.enabled:
            return df
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def drop_op(self, op_id: int) -> None:
        """Forget a failed op's spans and counts: the layer table describes
        the ops that completed."""
        self.spans = [s for s in self.spans if s["op"] != op_id]
        self.counts.pop(op_id, None)

    def count(self, name: str, value: float) -> None:
        """A per-op count measured at a layer boundary (rows, pairs, files)."""
        if self.enabled:
            self.counts[self.op][name] = self.counts[self.op].get(name, 0.0) + float(value)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name, "op": self.op,
               "parent": parent["id"] if parent else None, "start": time.time(), "end": None}
        self._stack.append(rec)
        self.sc.setJobDescription(f"{self.workload}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(f"{self.workload}:{parent['name']}" if parent else None)
            self.spans.append(rec)

    @contextlib.contextmanager
    def op_span(self, op_id: int):
        self.op = op_id
        if self.enabled:  # tags every Spark job of the op (see read_event_log)
            self.sc.setLocalProperty(OP_PROPERTY, str(op_id))
        with self.span("op"):
            yield


# ------------------------------------------------------------------ event log


def _acc_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for ch in plan.get("children", []):
        _acc_names(ch, out)


def read_event_log(log_dir: str, workload: str, ops: set[int]) -> dict:
    """Per-layer Spark figures ``{"layers": {layer: {...}}, "stages": [...]}``
    of the traced ops ``ops`` (a failed op's jobs are left out); ``stages``
    holds the (start, end) seconds of every stage of those ops."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    path = max(files, key=os.path.getmtime)
    acc = {}
    stage_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    driver_updates = []
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages = []
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _acc_names(ev.get("sparkPlanInfo", {}), acc)
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    acc[m["accumulatorId"]] = ("", m["name"], m.get("metricType", ""))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append(ev)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                if desc.startswith(workload + ":") and int(props.get(OP_PROPERTY, -1)) in ops:
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = desc.split(":", 1)[1]
                    if "spark.sql.execution.id" in props:
                        exec_layer[int(props["spark.sql.execution.id"])] = desc.split(":", 1)[1]
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Stage ID") in stage_layer and "Completion Time" in si:
                    stages.append((si["Submission Time"] / 1e3, si["Completion Time"] / 1e3))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    # scan metrics such as the files read are set on the driver, per SQL execution
    for ev in driver_updates:
        layer = exec_layer.get(ev.get("executionId"))
        for acc_id, value in ev.get("accumUpdates", []):
            if layer is not None and acc.get(acc_id, ("", "", ""))[1] == FILES_READ:
                layers[layer]["files_read"] += float(value)
    for ev in tasks:
        layer = stage_layer.get(ev.get("Stage ID"))
        if layer is None:
            continue
        L = layers[layer]
        L["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        L["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        L["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
        L["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            node, name, mtype = acc.get(a.get("ID"), ("", a.get("Name", ""), ""))
            try:
                upd = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == PY_TIME:
                L["python_s"] += upd / (1e9 if mtype == "nsTiming" else 1e3)
            elif name in (PY_SENT, PY_RECV):
                L["arrow_mb"] += upd / 2**20
    return {"layers": {k: dict(v) for k, v in layers.items()}, "stages": stages}


# ------------------------------------------------------------------ tables


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_table(spans: list[dict], counts: dict, spark_figs: dict) -> dict:
    """Per-op medians of each layer's self time and counts, Spark figures per
    op, and the reconciliation ``sum(self) == op wall``."""
    by_op: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    n_ops = len(by_op)
    self_t: dict[str, list[float]] = defaultdict(list)
    span_t: dict[str, list[float]] = defaultdict(list)
    walls, residuals, recon = [], [], []
    for op, ss in sorted(by_op.items()):
        root = next(s for s in ss if s["name"] == "op")
        per_layer_self = defaultdict(float)
        per_layer_span = defaultdict(float)
        for s in ss:
            kids = sum(c["end"] - c["start"] for c in ss if c["parent"] == s["id"])
            per_layer_self[s["name"]] += (s["end"] - s["start"]) - kids
            per_layer_span[s["name"]] += s["end"] - s["start"]
        for name in per_layer_self:
            self_t[name].append(per_layer_self[name])
            span_t[name].append(per_layer_span[name])
        wall = root["end"] - root["start"]
        walls.append(wall)
        recon.append(sum(per_layer_self.values()) - wall)
        in_op = [(max(a, root["start"]), min(b, root["end"])) for a, b in spark_figs["stages"]
                 if b > root["start"] and a < root["end"]]
        residuals.append(wall - _union_len(in_op))
    table = {
        "ops": n_ops,
        "op_wall_s": median(walls),
        "residual_s": median(residuals),
        "reconcile_max_abs_s": max(abs(r) for r in recon),
        "layers": {},
    }
    for name in sorted(self_t):
        row = {"self_s": median(self_t[name]), "span_s": median(span_t[name])}
        sp = spark_figs["layers"].get(name, {})
        for k, v in sp.items():
            row[k] = v / max(n_ops, 1)
        table["layers"][name] = row
    names = set()
    for c in counts.values():
        names.update(c)
    table["counts"] = {n: median([c.get(n, 0.0) for c in counts.values()]) for n in sorted(names)}
    return table
