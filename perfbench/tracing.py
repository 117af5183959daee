"""Spans around gaoya_spark's public layer functions, for the traced run.

The benchmark never edits the package. A `Tracer` replaces each listed
public function or method with a wrapper that

- opens a span (name, layer, start, end, parent, run id);
- tags every Spark job started inside it with a job group naming the span;
- persists the returned DataFrame and materializes it with an aggregate
  over every column, so the layer's work happens inside its own span
  instead of inside whichever later action first touches it;
- records the row count and the node counts of the post-AQE executed plan.

After the run, `parse_event_log` maps Spark's event log back onto the spans
through the job groups (executor run time, shuffle, spill, output bytes,
failed tasks), and `Tracer.self_times` gives each span's self time: its
duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

# plan node names counted per span; "Exchange" is a shuffle exchange
PLAN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "Exchange",
    "BroadcastExchange",
    "MapInPandas",
    "ArrowEvalPython",
)

_NODE_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")


def plan_counts(df: DataFrame) -> dict:
    """Node counts of the layer's own post-AQE plan.

    `df` must be persisted and materialized. Its executed plan is then an
    InMemoryTableScan over the cached relation whose final adaptive plan is
    the layer's runtime plan. Cached relations nested in it belong to
    upstream layers and are skipped, as are the "Initial Plan" sections."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    counts = {k: 0 for k in PLAN_NODES}
    python_fns: list[str] = []

    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :|+-"))

    start = next((i for i, l in enumerate(lines) if "InMemoryRelation" in l), None)
    if start is None:
        return {"nodes": counts, "python_fns": python_fns}
    root_col = col(lines[start])
    skip_col = None
    for line in lines[start + 1:]:
        c = col(line)
        if c <= root_col:
            break
        if skip_col is not None:
            if c > skip_col:
                continue
            skip_col = None
        if "InMemoryRelation" in line or "== Initial Plan ==" in line:
            skip_col = c
            continue
        m = _NODE_RE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in counts:
            counts[node] += 1
        if node == "MapInPandas":
            fn = re.search(r"MapInPandas\s+(\w+)\(", line)
            if fn:
                python_fns.append(fn.group(1))
    return {"nodes": counts, "python_fns": python_fns}


class Tracer:
    """Spans of one benchmark run. For each traced unit, set `run_id`,
    `install()` the wrappers, run the unit inside `span("flow", "flow")`,
    then `uninstall()`; `release()` unpersists what the wrappers cached.
    Spans of one unit share its run id."""

    # job groups are "<GROUP_PREFIX><span id>"
    GROUP_PREFIX = "perfbench:"

    def __init__(self, spark):
        self.sc = spark.sparkContext if spark is not None else None
        self.run_id = ""
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []
        self._patches: list[tuple] = []

    # ---------------------------------------------------------------- spans
    def group_id(self, span: dict) -> str:
        return f"{self.GROUP_PREFIX}{span['id']}"

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_id(span), span["name"])

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counters": {},
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def materialize(self, df: DataFrame, sp: dict) -> DataFrame:
        df = df.persist()
        self._cached.append(df)
        row = df.agg(F.count(F.lit(1)), *[F.max(c) for c in df.columns]).collect()[0]
        sp["counters"]["rows"] = int(row[0])
        sp["plan"] = plan_counts(df)
        return df

    # -------------------------------------------------------------- patching
    def patch(self, owner, attr: str, layer: str, name: str | None = None,
              materialize: bool = True) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else (name or attr)
            with tracer.span(span_name, layer) as sp:
                out = orig(*args, **kwargs)
                if not materialize:
                    return out
                if isinstance(out, DataFrame):
                    return tracer.materialize(out, sp)
                if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
                    return (tracer.materialize(out[0], sp),) + out[1:]
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, targets) -> None:
        """targets: (owner, attr, layer, span name or None, materialize)."""
        for owner, attr, layer, name, mat in targets:
            self.patch(owner, attr, layer, name, mat)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ------------------------------------------------------------- analysis
    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, last_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def to_json(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


def parse_event_log(path: str) -> dict[int, dict]:
    """span id -> Spark counters summed over the tasks of the jobs that ran
    under that span's job group (jobs go to the innermost open span)."""
    prefix = Tracer.GROUP_PREFIX
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def acc(span_id: int) -> dict:
        return out.setdefault(span_id, {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "output_bytes": 0,
        })

    with open(path) as f:
        for line in f:
            # cheap prefilter: only two event kinds matter
            if '"SparkListenerJobStart"' not in line[:64] and '"SparkListenerTaskEnd"' not in line[:64]:
                continue
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(prefix):
                    continue
                sid = int(group[len(prefix):])
                acc(sid)["jobs"] += 1
                for stage in e.get("Stage IDs", []):
                    stage_span.setdefault(stage, sid)
            else:
                sid = stage_span.get(e.get("Stage ID"))
                if sid is None:
                    continue
                a = acc(sid)
                a["tasks"] += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
                tm = e.get("Task Metrics") or {}
                a["run_ms"] += tm.get("Executor Run Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                a["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
