"""Traced mode: spans at layer boundaries plus Spark's own counters.

Everything here is installed from outside the program.  ``install``
wraps the public functions of each layer (class methods and module
functions) so every call records a span; the workloads add their own
spans around the public entry points they call.  ``SparkCounters`` reads
Spark's status store (the same store the Spark UI renders) for the jobs
and stages a phase started.  Spans stay in memory and are written as one
JSON file when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (layer, module, owner, attribute names): owner None means module-level
# functions, which are also re-bound wherever another module imported them
LAYERS = [
    ("datagen.app", "iceberg_data_gen_spark.datagen.app", "IcebergDataGeneratorApp",
     ["prepare", "cleanup"]),
    ("datagen.generator", "iceberg_data_gen_spark.datagen.generator", "FixSchemaGenerator",
     ["generate_data_per_file", "generate_pos_delete_per_file",
      "generate_equality_delete_per_file"]),
    ("table", "iceberg_data_gen_spark.table.table", "MoRTable",
     ["append_batches", "add_position_deletes", "add_equality_deletes", "scan",
      "plan_report", "summary"]),
    ("catalog", "iceberg_data_gen_spark.table.rest_catalog", "RestCatalog",
     ["create_namespace", "namespace_exists", "drop_namespace", "table_exists",
      "list_tables", "create_table", "load_table", "drop_table"]),
    ("catalog", "iceberg_data_gen_spark.table.rest_catalog", "RestMetadataIO",
     ["load", "save"]),
    ("session", "iceberg_data_gen_spark.session", None, ["load_table"]),
]

SPARK_FIELDS = {
    # status-store StageData field -> (counter name, scale to the unit)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}
_JOIN_RE = re.compile(r"\b(BroadcastHashJoin|BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin)\b")


class Tracer:
    """In-memory span recorder.  A span is name, start, end, parent and
    op id; ``attrs`` carry counts measured at the same boundary."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._t0 = time.perf_counter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, summary: dict) -> None:
        selfs = self.self_times()
        for s in self.spans:
            s["self"] = selfs.get(s["id"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        t = time.perf_counter()
        _annotate(rec, out)
        tracer.overhead_s += time.perf_counter() - t
        return out

    return traced


def _annotate(rec: dict, out) -> None:
    """Counts measured at the span boundary, from the call's return value."""
    name = rec["name"]
    if name in ("table.append_batches", "table.add_position_deletes",
                "table.add_equality_deletes") and isinstance(out, dict):
        files = out.get("files", [])
        rec["attrs"]["files"] = len(files)
        rec["attrs"]["bytes"] = sum(os.path.getsize(f["path"]) for f in files)
    elif name == "table.plan_report" and isinstance(out, dict):
        rec["attrs"]["pruned"] = out.get("pruned_files", 0)


def install(tracer: Tracer) -> list[tuple]:
    """Wrap every layer function in ``LAYERS`` with a span recorder;
    returns the patches for ``uninstall``."""
    import importlib

    patches = []
    for layer, mod_name, owner, attrs in LAYERS:
        mod = importlib.import_module(mod_name)
        target = getattr(mod, owner) if owner else mod
        for attr in attrs:
            orig = getattr(target, attr)
            # the three generate_* calls are one layer: driver-side planning
            span_name = "datagen.generator.plan" if layer == "datagen.generator" else f"{layer}.{attr}"
            wrapped = _wrap(tracer, span_name, orig)
            targets = [target]
            if owner is None:
                targets += [
                    m for m in list(sys.modules.values())
                    if getattr(m, "__name__", "").startswith("iceberg_data_gen_spark")
                    and m is not target and getattr(m, attr, None) is orig
                ]
            for t in targets:
                setattr(t, attr, wrapped)
                patches.append((t, attr, orig))
    return patches


def uninstall(patches: list[tuple]) -> None:
    for target, attr, orig in reversed(patches):
        setattr(target, attr, orig)


class SparkCounters:
    """Jobs and stages started since the last ``take``, read from Spark's
    status store.  Stage and job ids grow monotonically, so each read
    asks the store only for ids above the last one seen."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        self._kv = self._sc.statusStore().store()
        self._stage_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        self._job_cls = jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
        self._int = jvm.java.lang.Integer
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._next_stage = 0
        self._next_job = 0
        self.take()  # everything before construction belongs to nobody

    def _read(self, cls, index: str | None, lo: int) -> list[dict]:
        view = self._kv.view(cls)
        if index:
            view = view.index(index)
        return json.loads(self._mapper.writeValueAsString(view.first(self._int(lo))))

    def take(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        stages = self._read(self._stage_cls, "stageId", self._next_stage)
        jobs = self._read(self._job_cls, None, self._next_job)
        if stages:
            self._next_stage = max(s["info"]["stageId"] for s in stages) + 1
        if jobs:
            self._next_job = max(j["info"]["jobId"] for j in jobs) + 1
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0}
        for field, (key, _) in SPARK_FIELDS.items():
            out[key] = 0
        for s in stages:
            info = s["info"]
            if info["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += info["numCompleteTasks"]
            for field, (key, scale) in SPARK_FIELDS.items():
                out[key] += (info.get(field) or 0) * scale
        return out


def join_counts(df) -> tuple[int, int]:
    """(broadcast, shuffled) joins in ``df``'s executed (final adaptive)
    plan; call after an action has run."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an adaptive plan prints its final plan, then the initial one
    plan = plan.split("== Initial Plan ==")[0]
    kinds = _JOIN_RE.findall(plan)
    return (
        sum(k.startswith("Broadcast") for k in kinds),
        sum(not k.startswith("Broadcast") for k in kinds),
    )


FAMILIES = ["relational", "asof", "text", "dedup", "similarity", "streaming.events"]
SPARK_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "output_bytes"]


def per_layer(tracer: Tracer, n_ops: int, timed_s: float, overhead_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of the timed region (spans with an op id), each
    a total divided by the number of timed ops, plus the same Spark
    counters broken down per op kind and phase for the trace file.
    ``operators.<family>.cold_s`` is the setup-time cold pass instead."""
    selfs = tracer.self_times()
    by_id = {s["id"]: s for s in tracer.spans}
    timed = [s for s in tracer.spans if s["op"] is not None and s["end"] is not None]
    secs: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    self_s: dict[str, float] = defaultdict(float)
    attrs: dict[str, float] = defaultdict(float)
    spark = dict.fromkeys(SPARK_KEYS, 0.0)
    by_kind: dict[str, dict] = {}

    def outer_catalog(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"].startswith("catalog."):
                return False
            p = by_id[p]["parent"]
        return True

    for s in timed:
        name, dur, a = s["name"], s["end"] - s["start"], s["attrs"]
        secs[name] += dur
        calls[name] += 1
        self_s[name] += selfs[s["id"]]
        if name.startswith("catalog."):
            calls["catalog"] += 1
            if outer_catalog(s):
                secs["catalog"] += dur
        for k in ("files", "bytes", "pruned"):
            attrs[k] += a.get(k, 0)
        if "joins" in a:
            attrs["joins_broadcast"] += a["joins"][0]
            attrs["joins_shuffled"] += a["joins"][1]
        if "spark" in a:
            row = by_kind.setdefault(f"{a['kind']}/{name}", dict.fromkeys(SPARK_KEYS, 0.0))
            for k in SPARK_KEYS:
                spark[k] += a["spark"][k]
                row[k] += a["spark"][k]
            if name.endswith(".plan"):
                attrs[name + ".jobs"] += a["spark"]["jobs"]

    n = max(n_ops, 1)
    m = {
        "datagen.app.prepare_s": secs["datagen.app.prepare"] / n,
        "datagen.app.prepare_self_s": self_s["datagen.app.prepare"] / n,
        "datagen.app.cleanup_s": secs["datagen.app.cleanup"] / n,
        "datagen.app.cleanup_self_s": self_s["datagen.app.cleanup"] / n,
        "datagen.generator.plan_s": secs["datagen.generator.plan"] / n,
        "table.append_batches_s": secs["table.append_batches"] / n,
        "table.add_position_deletes_s": secs["table.add_position_deletes"] / n,
        "table.add_equality_deletes_s": secs["table.add_equality_deletes"] / n,
        "table.files_written": attrs["files"] / n,
        "table.bytes_written": attrs["bytes"] / n,
        "catalog.calls": calls["catalog"] / n,
        "catalog.s": secs["catalog"] / n,
        "table.scan_plan_s": secs["table.scan"] / n,
        "table.scan_exec_s": secs["morscan.op.exec"] / n,
        "table.files_pruned": attrs["pruned"] / n,
        "table.joins_broadcast": attrs["joins_broadcast"] / n,
        "table.joins_shuffled": attrs["joins_shuffled"] / n,
        "session.load_table_calls": calls["session.load_table"] / n,
        "session.load_table_s": secs["session.load_table"] / n,
    }
    cold: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s["op"] is None and s["end"] is not None and s["name"].endswith(".cold"):
            cold[s["name"]] += s["end"] - s["start"]
    for fam in FAMILIES:
        p = f"operators.{fam}"
        m[f"{p}.plan_s"] = secs[f"{p}.plan"] / n
        m[f"{p}.exec_s"] = secs[f"{p}.exec"] / n
        m[f"{p}.eager_jobs"] = attrs[f"{p}.plan.jobs"] / n
        m[f"{p}.cold_s"] = cold[f"{p}.cold"]
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = spark[k] / n
    m["spark.parallelism"] = spark["executor_run_s"] / timed_s if timed_s else 0.0
    m["trace.overhead_s"] = overhead_s / n
    return m, by_kind
