"""Spans and Spark counters for the benchmark's traced passes.

Spans are recorded around the benchmark's own calls into each layer (the
registry callable, the noop-sink execution, ...) and kept in memory. Spark's
counters are read once, after the run, from the application's status stores
and attributed to spans by *time window*: a job or SQL execution belongs to
the innermost span whose interval contains its submission time. Job groups
are not used, because micro-batch jobs of a streaming query run on threads
that do not inherit the caller's group.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric (``'1.2 KiB'``, ``'1,024'``, or the
    multi-task ``total (min, med, max ...)\n<total> (...)`` form) in bytes,
    seconds or a count."""
    if not text:
        return 0.0
    num, _, rest = text.split("\n")[-1].strip().partition(" ")
    unit = rest.split(" ", 1)[0] if rest else ""
    try:
        return float(num.replace(",", "")) * _UNITS.get(unit, 1)
    except ValueError:
        return 0.0


def phases_ms(jdf) -> dict[str, float]:
    """Catalyst phase durations recorded on a DataFrame's QueryExecution."""
    text = jdf.queryExecution().tracker().phases().toString()
    return {k: float(e) - float(s) for k, s, e in _PHASE.findall(text)}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the time covered by
    the span's direct children."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
    return dict(out)


def _walk_nodes(nodes: list[dict]):
    for n in nodes:
        yield n
        yield from _walk_nodes(n.get("nodes") or [])


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cache_samples: list[tuple[float, int]] = []
        self._spark = None

    def attach(self, spark) -> None:
        self._spark = spark

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if self._spark is not None:
                self.cache_samples.append((rec["end"], self._cached_bytes()))

    def _cached_bytes(self) -> int:
        infos = self._spark._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def gc_ms(self) -> float:
        beans = self._spark._jvm.java.lang.management.ManagementFactory
        return float(
            sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())
        )

    # -- counters, read after the run -------------------------------------

    def collect(self) -> dict:
        """Read jobs and SQL executions from Spark's status stores and
        return them with submission times in epoch seconds."""
        sc = self._spark._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jvm = self._spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(sc.statusStore().jobsList(None)))
        for j in jobs:
            j["t"] = (j.get("submissionTime") or 0) / 1000.0
        lo = min((s["start"] for s in self.spans), default=0.0)
        sql = self._spark._jsparkSession.sharedState().statusStore()
        execs = []
        for i in range(int(sql.executionsCount())):
            opt = sql.execution(i)
            if not opt.isDefined():
                continue
            t = opt.get().submissionTime() / 1000.0
            if t < lo:
                continue
            nodes = json.loads(mapper.writeValueAsString(sql.planGraph(i).allNodes()))
            values = json.loads(mapper.writeValueAsString(sql.executionMetrics(i)))
            execs.append({"t": t, "metrics": _exec_metrics(nodes, values)})
        return {"jobs": jobs, "execs": execs}


def _exec_metrics(nodes: list[dict], values: dict[str, str]) -> dict[str, float]:
    """Per-execution sums of the SQL metrics the per-layer report uses."""
    out: dict[str, float] = defaultdict(float)
    seen = set()
    for n in _walk_nodes(nodes):
        if n["id"] in seen:
            continue
        seen.add(n["id"])
        ms = {m["name"]: parse_metric(values.get(str(m["accumulatorId"]))) for m in n["metrics"]}
        out["io.scan_files"] += ms.get("number of files read", 0.0)
        out["io.scan_bytes"] += ms.get("size of files read", 0.0)
        out["exchange.shuffle_bytes"] += ms.get("shuffle bytes written", 0.0)
        if n["name"] == "BroadcastExchange":
            out["exchange.broadcast_bytes"] += ms.get("data size", 0.0)
        if "data returned from Python workers" in ms:
            out["arrow.rows"] += ms.get("number of output rows", 0.0)
            out["arrow.bytes_sent"] += ms.get("data sent to Python workers", 0.0)
            out["arrow.bytes_received"] += ms["data returned from Python workers"]
    return dict(out)


def attribute(spans: list[dict], timed: list[dict]) -> dict[int, list[dict]]:
    """Map each record with an epoch time ``t`` to the innermost span whose
    window contains it; records outside every span are dropped."""
    out: dict[int, list[dict]] = defaultdict(list)
    for rec in timed:
        best = None
        for s in spans:
            if s["start"] <= rec["t"] <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        if best is not None:
            out[best["id"]].append(rec)
    return out
