"""Spans, resource sampling and the Spark instrumentation the benchmark reads.

The harness never patches program code. It records a span around each of
its own calls into a public function, and derives child spans from what
Spark already exposes: SQL executions and stages in the status store
(read through the REST API of the driver UI), streaming progress
records, the Catalyst phase tracker of a DataFrame and the JVM's garbage
collector beans. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    op: str | None = None
    parent: int | None = None
    id: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the span API but
    records nothing, so untraced runs execute the same code path."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _add(self, s: Span) -> Span:
        s.id = len(self.spans)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = self._add(Span(name, layer, time.time(), 0.0, op, parent, attrs=attrs))
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def derived(self, name: str, layer: str, start: float, end: float,
                parent: Span, **attrs) -> Span | None:
        """A span measured by Spark, nested under ``parent`` and clipped
        to it."""
        if not self.enabled or parent is None:
            return None
        start, end = max(start, parent.start), min(end, parent.end)
        if end <= start:
            return None
        return self._add(Span(name, layer, start, end, parent.op, parent.id, attrs=attrs))

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the child intervals."""
        ivs = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, span.dur - covered)

    def self_by_layer(self, roots: list[Span]) -> dict[str, float]:
        """Self time per layer over the subtrees of ``roots``: a partition
        of the roots' total duration when children nest inside parents."""
        out: dict[str, float] = {}
        todo = list(roots)
        while todo:
            s = todo.pop()
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
            todo.extend(self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- resident memory ---------------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Samples the combined RSS of this process tree (Python driver, the
    driver JVM it launched and the Python workers) in a daemon thread."""

    INTERVAL = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- Spark instrumentation --------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str) -> float:
    """A SQL metric as the status store formats it, in base units (bytes,
    seconds or a count): ``"1,000"``, ``"13.3 KiB"``, or the
    ``"total (min, med, max ...)\\n3.3 m (...)"`` form whose total is read."""
    line = value.strip().splitlines()[-1] if value.strip() else "0"
    head = line.split(" (", 1)[0].strip()
    m = re.fullmatch(r"(-?[\d,.]+)\s*([A-Za-z]+)?", head)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def iso_to_epoch(ts: str) -> float:
    """``2026-10-17T03:05:30.032GMT`` (status store) or
    ``2026-10-17T03:05:30.032Z`` (streaming progress) to epoch seconds."""
    import datetime

    ts = ts.replace("GMT", "").replace("Z", "")
    return datetime.datetime.fromisoformat(ts).replace(
        tzinfo=datetime.timezone.utc).timestamp()


class SparkProbe:
    """Read-only view of one session's status store and JVM."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.spark = spark
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def sql_executions(self, since_id: int = -1) -> list[dict]:
        out = []
        for e in self._get("/sql?details=true&planDescription=false&length=100000"):
            if e["id"] <= since_id:
                continue
            start = iso_to_epoch(e["submissionTime"])
            nodes = []
            for n in e.get("nodes", []):
                nm = {m["name"]: parse_metric(m["value"]) for m in n.get("metrics", [])}
                nodes.append((n["nodeName"], nm))
            out.append({"id": e["id"], "start": start,
                        "end": start + e["duration"] / 1000.0,
                        "description": e.get("description", ""), "nodes": nodes})
        return out

    def last_sql_id(self) -> int:
        ids = [e["id"] for e in self._get("/sql?details=false&length=100000")]
        return max(ids, default=-1)

    def jobs(self, since_id: int = -1) -> list[dict]:
        return [j for j in self._get("/jobs") if j["jobId"] > since_id]

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self._get("/stages") if s["stageId"] in stage_ids]

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def node_accumulators(self, exec_id: int, node_name: str) -> dict[str, float]:
        """Raw values of the SQL metrics of the ``node_name`` nodes of an
        execution, read from the driver's live accumulators. The status
        store only aggregates task updates of an execution's own stages,
        so a node whose tasks ran under nested executions (the source plan
        of a ``foreachBatch`` batch) reads zero there but not here."""
        jvm = self.spark._jvm
        graph = self.spark._jsparkSession.sharedState().statusStore().planGraph(exec_id)
        nodes = graph.allNodes()
        out: dict[str, float] = {}
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != node_name:
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                acc = jvm.org.apache.spark.util.AccumulatorContext.get(m.accumulatorId())
                if acc.isDefined():
                    v = float(acc.get().value())
                    unit = 1e-3 if m.metricType() == "timing" else (
                        1e-9 if m.metricType() == "nsTiming" else 1.0)
                    out[m.name()] = out.get(m.name(), 0.0) + v * unit
        return out

    @staticmethod
    def catalyst_phases(df) -> dict[str, tuple[float, float]]:
        """``{phase: (start, end)}`` epoch seconds from the DataFrame's
        QueryPlanningTracker (analysis, optimization, planning)."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                p = p.get()
                out[name] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
        return out


def exec_counters(probe: SparkProbe, execs: list[dict], job_since: int) -> dict[str, float]:
    """Totals over SQL executions and the jobs/stages since ``job_since``:
    the ``exec.*`` per-layer metrics."""
    jobs = probe.jobs(job_since)
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = probe.stages(stage_ids) if stage_ids else []
    py_run = py_boot = 0.0
    for e in execs:
        for _, nm in e["nodes"]:
            py_run += nm.get("time to run Python workers", 0.0)
            py_boot += nm.get("time to start Python workers", 0.0)
    return {
        "exec.s": sum(e["end"] - e["start"] for e in execs),
        "exec.sql_executions": float(len(execs)),
        "exec.jobs": float(len(jobs)),
        "exec.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "exec.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "exec.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
        "exec.spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                      for s in stages)),
        "exec.python_run_s": py_run,
        "exec.python_boot_s": py_boot,
    }


def attach_executions(tracer: Tracer, execs: list[dict], parents: list[Span],
                      layer_of) -> None:
    """Nest each SQL execution under the innermost span that contains it:
    one of the harness spans ``parents`` or an execution already placed
    (an action run inside another execution, as ``foreachBatch`` does).
    Outer executions are placed first; the 5 ms slack absorbs the
    millisecond rounding of the status store's timestamps.
    ``layer_of(exec)`` names the layer."""
    placed: list[Span] = []
    for e in sorted(execs, key=lambda e: e["start"] - e["end"]):
        inside = [p for p in parents + placed
                  if p.start <= e["start"] + 0.005 and e["end"] <= p.end + 0.005]
        if not inside:
            continue
        owner = min(inside, key=lambda p: p.dur)
        s = tracer.derived(f"sql.{e['id']}", layer_of(e), e["start"], e["end"], owner,
                           sql_id=e["id"], description=e["description"],
                           nodes=sorted({n for n, _ in e["nodes"]}))
        if s is not None:
            placed.append(s)
