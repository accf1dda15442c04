"""Measurement from outside the engine: process-tree memory, spans, plan
statistics and the Spark event log.

Nothing here is called inside the engine. The traced run sets job groups
around the benchmark's own calls, enables the event log through
``get_spark(extra_conf=...)``, and reads plan statistics from each step's
``QueryExecution`` after it has run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass  # the process ended between the listing and the read
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({
            "trace": self.trace_id, "id": len(self.spans), "parent": parent,
            "name": name, "layer": layer, "start": start, "end": end, **attrs,
        })
        return len(self.spans) - 1

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


_PY_EVAL = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b")
_EXCHANGE = re.compile(r"(?<!Reused)\b(Exchange|BroadcastExchange)\b")


def plan_stats(df) -> dict:
    """Catalyst phase time and node counts of a step's final executed plan.

    Only the plan of the DataFrame the builder returns: builders that run
    their own actions before returning have further plans the event log
    still counts as jobs.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    it = phases.iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return {
        "catalyst_s": ms / 1000.0,
        "python_eval_nodes": len(_PY_EVAL.findall(plan)),
        "exchanges": len(_EXCHANGE.findall(plan)),
    }


@contextmanager
def observe_gates(calls: list):
    """Record each deferred-acceptance call (its rounds: 0 means the
    driver-local solve ran) and each connected-components call (which side
    ran), by wrapping the engine's public functions for the duration."""
    import osmalyzer_spark.operators.correlator as correlator
    import osmalyzer_spark.operators.dedup as dedup

    da, cc = correlator.deferred_acceptance, dedup.connected_components_star

    def da_wrapped(*a, **kw):
        t0 = time.time()
        holds, rounds = da(*a, **kw)
        calls.append({"gate": "da", "rounds": rounds, "start": t0, "end": time.time(),
                      "side": "distributed" if rounds else "local"})
        return holds, rounds

    def cc_wrapped(*a, **kw):
        # the driver-local solve fills edge_counts_out; the star rounds do not
        counts = kw.setdefault("edge_counts_out", {})
        t0 = time.time()
        out = cc(*a, **kw)
        calls.append({"gate": "cc", "start": t0, "end": time.time(),
                      "side": "local" if counts else "distributed"})
        return out

    correlator.deferred_acceptance = da_wrapped
    dedup.connected_components_star = cc_wrapped
    try:
        yield
    finally:
        correlator.deferred_acceptance = da
        dedup.connected_components_star = cc


def read_event_logs(event_dir: Path) -> dict[str, dict]:
    """Per job group: job intervals and summed task metrics."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "result_bytes": 0, "stage_tasks": defaultdict(list),
    })
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for f in sorted(p for p in event_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    groups[job_group[jid]]["jobs"].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    a = groups[g]
                    run_s = m["Executor Run Time"] / 1000.0
                    a["task_s"] += run_s
                    a["cpu_s"] += m["Executor CPU Time"] / 1e9
                    a["gc_s"] += m["JVM GC Time"] / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    a["result_bytes"] += m.get("Result Size", 0)
                    a["stage_tasks"][ev["Stage ID"]].append(run_s)
    out = {}
    for g, a in groups.items():
        skew = [
            max(ts) / statistics.median(ts)
            for ts in a.pop("stage_tasks").values()
            if len(ts) >= 4 and statistics.median(ts) > 0
        ]
        a["max_task_over_median"] = max(skew, default=1.0)
        out[g] = a
    return out


def idle_s(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] during which none of ``jobs`` ran."""
    busy, cur = 0.0, start
    for s, e in sorted(jobs):
        s, e = max(s, cur), min(e, end)
        if e > s:
            busy += e - s
            cur = e
    return max(0.0, (end - start) - busy)


def candidate_pairs(items, elements, radius_m: float) -> int:
    """The cell-ring bound on the radius join's candidates,
    sum over probe cells of probe(cell) * build(ring(cell)), computed with
    ``geo.cells`` public functions."""
    from pyspark.sql import functions as F

    from osmalyzer_spark.geo.cells import (
        cell_deg_for_radius,
        cell_id_expr,
        neighbor_cells_expr,
    )

    deg = cell_deg_for_radius(radius_m)
    probe = items.select(
        F.explode(neighbor_cells_expr(cell_id_expr("item_lat", "item_lon", deg))).alias("c")
    ).groupBy("c").agg(F.count(F.lit(1)).alias("np"))
    build = elements.select(
        cell_id_expr("elem_lat", "elem_lon", deg).alias("c")
    ).groupBy("c").agg(F.count(F.lit(1)).alias("nb"))
    row = probe.join(build, "c").agg(F.sum(F.col("np") * F.col("nb")).alias("n")).first()
    return int(row["n"] or 0)
