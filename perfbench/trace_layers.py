"""Traced run: Python-side spans around the package's public functions plus
Spark's own task and SQL metrics, folded into a per-layer table.

Spans are kept in memory and folded once the run ends.  Each span sets a
Spark job group on its thread, so the event log ties every job (and its
tasks) to the innermost span that submitted it.  Jobs with no group are
attributed to the epoch span whose interval contains their start.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# (module, attribute, span name): every place a caller looks a name up
_FUNCTIONS = [
    ("jurisprudencia_privada_etl_spark.sources.changelog", "write_changelog", "sources.write_changelog"),
    ("jurisprudencia_privada_etl_spark.sources.changelog", "read_epoch_stats", "sources.read_epoch_stats"),
    ("jurisprudencia_privada_etl_spark.sources.changelog", "read_epoch", "sources.read_epoch"),
    ("jurisprudencia_privada_etl_spark.plans.replay", "read_epoch", "sources.read_epoch"),
    ("jurisprudencia_privada_etl_spark.extraction", "extraction_stage", "extraction.extraction_stage"),
    ("jurisprudencia_privada_etl_spark.plans.replay", "extraction_stage", "extraction.extraction_stage"),
    ("jurisprudencia_privada_etl_spark.operators.reconcile", "split_valid", "operators.split_valid"),
    ("jurisprudencia_privada_etl_spark.operators.conflicts", "conflict_report", "operators.conflict_report"),
    ("jurisprudencia_privada_etl_spark.plans.replay", "_write_counted", "operators.side_write"),
    ("jurisprudencia_privada_etl_spark.plans.replay", "process_epoch", "replay.process_epoch"),
    ("jurisprudencia_privada_etl_spark.plans.manifest", "publish", "manifest.publish"),
    ("jurisprudencia_privada_etl_spark.plans.manifest", "load", "manifest.load"),
]
_SINK_METHODS = ["merge", "key_stats", "compact", "load", "lookup", "manifest"]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # wall clock, seconds (the event log uses epoch milliseconds)
    t1: float = 0.0


class Tracer:
    def __init__(self, tmp: str):
        self.event_dir = os.path.join(tmp, "eventlog")
        os.makedirs(self.event_dir)
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].sid if stack else None, time.time())
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{sp.sid}", sp.name)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, spark) -> None:
        """Wrap the package's public functions where their callers look
        them up, and start tagging jobs with span groups."""
        import importlib

        self._sc = spark.sparkContext
        for mod, attr, name in _FUNCTIONS:
            m = importlib.import_module(mod)
            setattr(m, attr, self._wrap(name, getattr(m, attr)))
        from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink

        for meth in _SINK_METHODS:
            setattr(HadoopParquetSink, meth, self._wrap(f"sink.{meth}", getattr(HadoopParquetSink, meth)))

    # -- memory ----------------------------------------------------------------

    def sample_rss(self, root_pid: int, stop: threading.Event) -> None:
        """Peak resident memory of ``root_pid`` and its descendants (the JVM
        and the Python workers it forks), sampled from /proc."""
        self.rss_peak = 0
        while not stop.wait(0.2):
            self.rss_peak = max(self.rss_peak, _tree_rss(root_pid))

    # -- the fold ----------------------------------------------------------------

    def report(self, run) -> dict:
        ev = EventLog(self.event_dir)
        windows = run.epoch_windows(self.spans)  # [(t0, t1)] of the timed epochs
        n_ep = len(windows)

        def window_of(t: float) -> int | None:
            for i, (a, b) in enumerate(windows):
                if a <= t < b:
                    return i
            return None

        by_id = {sp.sid: sp for sp in self.spans}
        timed = [sp for sp in self.spans if window_of(sp.t0) is not None]

        def spans(name: str, pool=timed) -> list[Span]:
            return [sp for sp in pool if sp.name == name]

        def dur(name: str, pool=timed) -> list[float]:
            return [sp.t1 - sp.t0 for sp in spans(name, pool)]

        def span_of(job) -> Span | None:
            g = job.get("group") or ""
            return by_id.get(int(g[5:])) if g.startswith("span-") else None

        jobs = [j for j in ev.jobs.values() if window_of(j["start"]) is not None]
        layer_jobs: dict[str, list[dict]] = {}
        for j in jobs:
            sp = span_of(j)
            layer_jobs.setdefault(sp.name if sp else "unattributed", []).append(j)

        def jobs_of(*names: str) -> list[dict]:
            return [j for n in names for j in layer_jobs.get(n, [])]

        def task_sum(js, key) -> float:
            return sum(t[key] for j in js for t in ev.tasks_of(j))

        def sql_sum(js, metric, node=None, where=None) -> float:
            return sum(ev.sql_metric(j, metric, node, where) for j in js)

        merge_jobs = jobs_of("sink.merge")
        sink_jobs = jobs_of("sink.merge", "sink.compact")
        lookup_jobs = [j for j in ev.jobs.values() if (sp := span_of(j)) and sp.name == "lookup"]
        n_lookups = max(1, len(spans("lookup", self.spans)))
        side = jobs_of("operators.side_write")
        clog_loc = "file:" + run.clog
        all_wall = sum(b - a for a, b in windows)

        # per window: the time no job of the epoch was running
        driver_s = []
        for i, (a, b) in enumerate(windows):
            iv = sorted((j["start"], j["end"]) for j in jobs if window_of(j["start"]) == i)
            driver_s.append((b - a) - _covered(iv, a, b))

        skews = []
        for j in merge_jobs:
            for st in ev.stages_of(j):
                ts = [t["run_s"] for t in ev.stage_tasks.get(st, [])]
                if ts and any(t["out_b"] for t in ev.stage_tasks[st]) and statistics.median(ts) > 0:
                    skews.append(max(ts) / statistics.median(ts))

        # self time per layer, and the share of the timed walls no layer covers
        self_s: dict[str, float] = {}
        for sp in timed:
            kids = [(c.t0, c.t1) for c in self.spans if c.parent == sp.sid]
            layer = sp.name.split(".", 1)[0]
            own = (sp.t1 - sp.t0) - _covered(sorted(kids), sp.t0, sp.t1)
            self_s[layer] = self_s.get(layer, 0.0) + own
        bench_self = self_s.pop("epoch", 0.0)

        depth = run.mor_depths()
        m = {
            "sources.stats_ms": _med(dur("sources.read_epoch_stats")) * 1e3,
            "sources.scan_mb": sql_sum(jobs, "size of files read", "Scan", clog_loc) / 1e6 / n_ep,
            "sources.write_changelog_s": _med(dur("sources.write_changelog", self.spans)),
            "extraction.python_run_s": sql_sum(jobs, "time to run Python workers") / 1e3,
            "extraction.python_start_s": (sql_sum(jobs, "time to start Python workers")
                                          + sql_sum(jobs, "time to initialize Python workers")) / 1e3,
            "extraction.to_python_mb": sql_sum(jobs, "data sent to Python workers") / 1e6,
            "extraction.from_python_mb": sql_sum(jobs, "data returned from Python workers") / 1e6,
            "operators.side_jobs": len(side),
            "operators.side_executor_s": task_sum(side, "run_s"),
            "operators.dead_letter_rows": run.dead_letter_rows(),
            "replay.jobs_per_epoch": len(jobs) / n_ep,
            "replay.driver_s": _med(driver_s),
            "replay.core_busy_share": task_sum(jobs, "run_s") / (all_wall * run.cores),
            "sink.merge_s": sum(dur("sink.merge")),
            "sink.shuffle_write_mb": task_sum(sink_jobs, "shuffle_w_b") / 1e6,
            "sink.shuffle_read_mb": task_sum(sink_jobs, "shuffle_r_b") / 1e6,
            "sink.spill_mb": task_sum(sink_jobs, "spill_b") / 1e6,
            "sink.sort_s": sql_sum(sink_jobs, "sort time") / 1e3,
            "sink.gc_s": task_sum(sink_jobs, "gc_s"),
            "sink.task_skew": _med(skews),
            "sink.key_stats_s": sum(dur("sink.key_stats")),
            "sink.output_mb": task_sum(sink_jobs, "out_b") / 1e6 / n_ep,
            "sink.files_written": sql_sum(sink_jobs, "number of written files") / n_ep,
            "sink.compact_s": sum(dur("sink.compact")),
            "sink.mor_delta_depth.max": max(depth, default=0),
            "sink.lookup_rows_read": sql_sum(lookup_jobs, "number of output rows", "Scan") / n_lookups,
            "sink.lookup_files_read": sql_sum(lookup_jobs, "number of files read", "Scan") / n_lookups,
            "manifest.publish_ms": _med(dur("manifest.publish")) * 1e3,
            "manifest.load_ms": _med(dur("manifest.load")) * 1e3,
            "manifest.loads_per_epoch": len(spans("manifest.load")) / n_ep,
            "manifest.kb": run.manifest_bytes() / 1e3,
            "host.rss_mb.peak": getattr(self, "rss_peak", 0) / 1e6,
            "epoch_s.p90": _p90(run.samples["epoch_s"]),
            "lookup_ms.p50": _med(run.samples["lookup_ms"]),
            "lookup_ms.p90": _p90(run.samples["lookup_ms"]),
            "scan_s": _med(run.samples["scan_s"]),
            "trace.overhead_share": run.trace_overhead(),
            "trace.unattributed_share": bench_self / all_wall,
        }
        for layer in ("sources", "extraction", "operators", "replay", "sink", "manifest"):
            m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        out = {}
        for k, v in m.items():
            unit = next((u for suf, u in _UNITS if k.endswith(suf)), "count")
            out[k] = {"value": float(v), "unit": unit}
        return out


_UNITS = [("_ms", "ms"), ("_ms.p50", "ms"), ("_ms.p90", "ms"), ("_s", "s"), ("_s.p90", "s"),
          ("_mb", "MB"), (".peak", "MB"), (".kb", "KB"), ("_share", "share"), ("_skew", "ratio")]


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    s = sorted(xs)
    return float(s[min(len(s) - 1, int(0.9 * len(s)))]) if s else 0.0


def _covered(iv: list[tuple[float, float]], a: float, b: float) -> float:
    """Length of the union of sorted intervals ``iv``, clipped to [a, b]."""
    total, end = 0.0, a
    for s, e in iv:
        s, e = max(s, end), min(e, b)
        if e > s:
            total += e - s
            end = e
    return total


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


class EventLog:
    """The parts of a Spark event log the fold needs: jobs with their group
    and interval, per-task metrics, and SQL metrics keyed by plan node."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.acc: dict[int, tuple[str, str, str]] = {}  # id → (node, metric, node text)
        self.exec_sql: dict[int, dict[int, float]] = {}  # execution → acc id → value
        self.job_sql: dict[int, dict[int, float]] = {}  # job → acc id → task updates
        files = sorted(
            os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs
            if f.startswith("events_") or f.startswith("local-")
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        for mt in node.get("metrics", []):
            self.acc[mt["accumulatorId"]] = (node["nodeName"], mt["name"], node.get("simpleString", ""))
        for c in node.get("children", []):
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "group": props.get("spark.jobGroup.id"),
                "exec": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
                "start": e["Submission Time"] / 1e3,
                "end": e["Submission Time"] / 1e3,
                "stages": list(e["Stage IDs"]),
            }
            for st in e["Stage IDs"]:
                self.stage_job.setdefault(st, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            self.stage_tasks.setdefault(e["Stage ID"], []).append({
                "run_s": tm.get("Executor Run Time", 0) / 1e3,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle_w_b": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_r_b": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                "spill_b": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "out_b": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
            job = self.stage_job.get(e["Stage ID"])
            if job is not None:
                sql = self.job_sql.setdefault(job, {})
                accs = e["Task Info"].get("Accumulables", [])
                # a reused Python worker reports "time to initialize" as the
                # time since it started, so it counts only where it started
                fresh = any(a.get("Name") == "time to start Python workers" for a in accs)
                for a in accs:
                    if a.get("Name") == "time to initialize Python workers" and not fresh:
                        continue
                    if a.get("Metadata") == "sql" and "Update" in a:
                        try:
                            sql[a["ID"]] = sql.get(a["ID"], 0.0) + float(a["Update"])
                        except (TypeError, ValueError):
                            pass
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SQLDriverAccumUpdates") or kind.endswith("DriverAccumUpdates"):
            d = self.exec_sql.setdefault(e["executionId"], {})
            for acc_id, v in e["accumUpdates"]:
                d[acc_id] = d.get(acc_id, 0.0) + float(v)

    def stages_of(self, job: dict) -> list[int]:
        return [st for st in job["stages"] if self.stage_job.get(st) == job["id"]]

    def tasks_of(self, job: dict) -> list[dict]:
        return [t for st in self.stages_of(job) for t in self.stage_tasks.get(st, [])]

    def sql_metric(self, job: dict, metric: str, node: str | None, where: str | None) -> float:
        """Sum of one SQL metric over the job's tasks, plus the updates Spark
        posts for its execution (counted on the execution's first job)."""
        vals = dict(self.job_sql.get(job["id"], {}))
        ex = job["exec"]
        if ex is not None and min(
            (j["id"] for j in self.jobs.values() if j["exec"] == ex), default=job["id"]
        ) == job["id"]:
            for k, v in self.exec_sql.get(ex, {}).items():
                vals[k] = vals.get(k, 0.0) + v
        total = 0.0
        for acc_id, v in vals.items():
            n, mname, text = self.acc.get(acc_id, ("", "", ""))
            if mname == metric and (node is None or n.startswith(node)) and (where is None or where in text):
                total += v
        return total
