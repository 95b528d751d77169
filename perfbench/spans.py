"""In-memory spans for the traced run, and per-layer counters read from
Spark's own status stores (the AppStatusStore for jobs, stages and
tasks; the SQLAppStatusStore for per-operator SQL metrics)."""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans with a name, start, end, parent and run id, kept in memory
    and written out once at the end of the run. ``enabled`` may be
    flipped between operations so one run can time traced and untraced
    operations side by side."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "start": start,
                "end": end,
                "parent": self._stack[-1] if self._stack else None,
                "run_id": self.run_id,
            })

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (span name up to ':') not covered by child
        spans."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = s["name"].split(":", 1)[0]
            out[layer] += s["end"] - s["start"] - covered[s["id"]]
        return dict(out)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


_VALUE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float | None:
    """Parse a formatted SQL metric ('1,234', '14 ms', or the
    'total (min, med, max ...)' form) into bytes, seconds or a count;
    None for metrics without a total (averages)."""
    for line in text.splitlines():
        m = _VALUE.match(line)
        if m:
            number = float(m.group(1).replace(",", ""))
            return number * _UNIT.get(m.group(2), 1.0)
    return None


class SparkStatus:
    """Reads the counters of one operation's jobs from Spark's status
    stores. Works with the UI disabled."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self._sql.executionsCount()

    def jobs(self, group: str) -> dict[str, float]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out = defaultdict(float)
        out["spark.jobs"] = len(ids)
        seen_stages: set[tuple[int, int]] = set()
        for jid in ids:
            job = self._app.job(jid)
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = self._app.stageData(
                    stage_ids.apply(i), False, None, False, None
                )
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    key = (st.stageId(), st.attemptId())
                    if key in seen_stages or str(st.status()) == "SKIPPED":
                        continue
                    seen_stages.add(key)
                    out["spark.stages"] += 1
                    out["spark.tasks"] += st.numTasks()
                    out["spark.failed_tasks"] += st.numFailedTasks()
                    out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                    out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                    out["shuffle.read_bytes"] += st.shuffleReadBytes()
                    out["shuffle.spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
                    out["sources.input_bytes"] += st.inputBytes()
        return dict(out)

    def sql(self) -> dict[str, float]:
        """Python-boundary, scan and write counters of every SQL
        execution started since the previous call."""
        out = defaultdict(float)
        total = self._sql.executionsCount()
        execs = self._sql.executionsList(
            self._sql_seen, total - self._sql_seen
        )
        self._sql_seen = total
        for e in range(execs.size()):
            graph = self._sql.planGraph(execs.apply(e).executionId())
            values = self._sql.executionMetrics(execs.apply(e).executionId())
            nodes = graph.allNodes()
            metrics: dict[int, dict[str, float]] = {}
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                vals = {}
                for k in range(ms.size()):
                    v = values.get(ms.apply(k).accumulatorId())
                    if v.isDefined() and metric_value(v.get()) is not None:
                        vals[ms.apply(k).name()] = metric_value(v.get())
                metrics[node.id()] = vals
            edges = graph.edges()
            children: dict[int, list[int]] = defaultdict(list)
            for i in range(edges.size()):
                children[edges.apply(i).toId()].append(edges.apply(i).fromId())
            def rows_into(nid: int) -> float:
                # nearest descendants that count their output rows
                return sum(
                    metrics.get(c, {}).get("number of output rows")
                    if "number of output rows" in metrics.get(c, {})
                    else rows_into(c)
                    for c in children[nid]
                )

            for nid, vals in metrics.items():
                # Arrow UDF nodes and Python DataSource scans
                if "data returned from Python workers" in vals:
                    out["python.udf_s"] += vals.get(
                        "time to run Python workers", 0.0
                    )
                    out["python.arrow_rows_out"] += vals.get(
                        "number of output rows", 0.0
                    )
                    out["python.arrow_rows_in"] += rows_into(nid)
                out["sources.scan_s"] += vals.get("scan time", 0.0)
                out["sources.writers.write_s"] += vals.get(
                    "task commit time", 0.0
                ) + vals.get("job commit time", 0.0)
                out["sources.writers.output_bytes"] += vals.get(
                    "written output", 0.0
                )
        return dict(out)


def add_into(total: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v
