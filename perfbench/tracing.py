"""Spans around calls into the program's layers, and Spark's own counters
for them read back from the event log.

A span records (id, name, op, parent, start, end, error). Spans live in
memory and are written out when the run ends. While a span is open the
benchmark sets the Spark job description to ``perfbench:<span id>``, so
every job the call starts carries the innermost open span; the event log
then gives each span its jobs, stages and task counters.

Most layer functions only build a lazy plan: their own span is short and
their work runs inside the action of an enclosing span (``run_job``'s
writes, the tick's write). That work is attributed from the SQL plan: the
accumulators of each plan node are mapped back to the node, and nodes are
classified by what they compute (``classify_node``).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import sys
import time
from collections import defaultdict

PACKAGE = "data_quality_checker_spark"
DESC_PREFIX = "perfbench:"

# layer name -> (module, public function). The benchmark wraps each of
# these wherever the package has bound it, so calls from inside the
# program (run_job -> enrich -> enrich_text, ...) are spanned too.
LAYERS: dict[str, tuple[str, str]] = {
    "job": (f"{PACKAGE}.run.job", "run_job"),
    "rescore": (f"{PACKAGE}.run.rescore", "rescore_decisions"),
    "tick": (f"{PACKAGE}.streaming.incremental", "process_and_write"),
    "enrich": (f"{PACKAGE}.pipeline", "enrich"),
    "sha": (f"{PACKAGE}.pipeline", "hashed_frame"),
    "text": (f"{PACKAGE}.pipeline", "enrich_text"),
    "decode": (f"{PACKAGE}.pipeline", "audio_stats_table"),
    "iqr": (f"{PACKAGE}.operators.outliers", "iqr_bounds"),
    "dedup": (f"{PACKAGE}.operators.dedup", "keepers_by_sha"),
    "rules": (f"{PACKAGE}.pipeline", "decide"),
    "findings": (f"{PACKAGE}.pipeline", "findings_from_decisions"),
}

TEXT_UDFS = ("_langid(", "_perplexity(", "_scrub(")
DECODE_UDFS = ("_audio_stats(", "_audio_stats_fp(")


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the same calls
    but records nothing and sets no job description."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "error": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{DESC_PREFIX}{rec['id']}")
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def instrument(self, layers: dict[str, tuple[str, str]] = LAYERS) -> None:
        """Wrap every binding of each layer function inside the package."""
        if not self.enabled:
            return
        for name, (mod_name, attr) in layers.items():
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(name, orig)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PACKAGE):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapped)
                        self._patched.append((mod, key, orig))

    def restore(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    def _wrap(self, name, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_time(spans: list[dict], span: dict) -> float:
    """Span duration minus the union of its direct children's intervals."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


# ---------------------------------------------------------------- event log


def event_log_file(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])


def classify_node(node_name: str, desc: str) -> str | None:
    if node_name.startswith("ArrowEvalPython"):
        if any(u in desc for u in DECODE_UDFS):
            return "decode"
        if any(u in desc for u in TEXT_UDFS):
            return "text"
        return "python"
    if node_name.startswith("Scan"):
        return "payload_scan" if "bytes:binary" in desc else "scan"
    return None


class EventLog:
    """Stdlib parse of an uncompressed Spark event log.

    ``job_span``: job id -> span id; ``stage_tasks``: stage id -> list of
    task records; ``node_of_acc``: accumulator id -> (node kind, metric
    name, node id); ``exec_driver_accs``: SQL execution id -> driver-side
    metric updates (file listing sizes of scans)."""

    def __init__(self, path: str):
        self.job_span: dict[int, int | None] = {}
        self.job_exec: dict[int, int] = {}
        self.job_time: dict[int, tuple[int, int | None]] = {}
        self.exec_driver_accs: dict[int, dict[int, float]] = defaultdict(dict)
        self.job_stages: dict[int, list[int]] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)
        self.node_of_acc: dict[int, tuple[str, str, str]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    self._job_start(ev)
                elif kind == "SparkListenerJobEnd":
                    self.job_time[ev["Job ID"]] = (
                        self.job_time[ev["Job ID"]][0],
                        ev["Completion Time"],
                    )
                elif kind == "SparkListenerTaskEnd":
                    self._task_end(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    self._plan(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in ev.get("accumUpdates", []):
                        self.exec_driver_accs[ev["executionId"]][int(acc)] = float(val)

    def _job_start(self, ev: dict) -> None:
        jid = ev["Job ID"]
        props = ev.get("Properties") or {}
        desc = props.get("spark.job.description") or ""
        if props.get("spark.sql.execution.id") is not None:
            self.job_exec[jid] = int(props["spark.sql.execution.id"])
        span = int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None
        self.job_span[jid] = span
        self.job_time[jid] = (ev.get("Submission Time", 0), None)
        self.job_stages[jid] = list(ev.get("Stage IDs", []))
        for sid in self.job_stages[jid]:
            self.stage_job.setdefault(sid, jid)

    def _task_end(self, ev: dict) -> None:
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        accs = {}
        for a in info.get("Accumulables", []):
            upd = a.get("Update")
            if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                accs[int(a["ID"])] = float(upd)
        self.stage_tasks[ev["Stage ID"]].append(
            {
                "failed": bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                "accs": accs,
            }
        )

    def _plan(self, node: dict) -> None:
        kind = classify_node(node.get("nodeName", ""), node.get("simpleString", ""))
        if kind is not None:
            nid = f"{node.get('nodeName')}|{min((m['accumulatorId'] for m in node.get('metrics', [])), default=-1)}"
            for met in node.get("metrics", []):
                self.node_of_acc[int(met["accumulatorId"])] = (kind, met["name"], nid)
        for child in node.get("children", []):
            self._plan(child)

    # ------------------------------------------------------------ queries

    def jobs_for(self, span_ids: set[int]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in span_ids]

    def stages_for(self, span_ids: set[int]) -> list[list[dict]]:
        """Task records of each stage run by the spans' jobs."""
        return [
            self.stage_tasks[sid]
            for j in self.jobs_for(span_ids)
            for sid in self.job_stages[j]
            if self.stage_job.get(sid) == j and self.stage_tasks.get(sid)
        ]

    def tasks_for(self, span_ids: set[int]) -> list[dict]:
        return [t for stage in self.stages_for(span_ids) for t in stage]

    def node_metric(self, tasks: list[dict], kind: str, metric: str) -> float:
        """Sum of task updates to ``metric`` of every plan node of ``kind``."""
        total = 0.0
        for t in tasks:
            for acc, val in t["accs"].items():
                k = self.node_of_acc.get(acc)
                if k is not None and k[0] == kind and k[1] == metric:
                    total += val
        return total

    def driver_metric(self, span_ids: set[int], kinds: tuple[str, ...], metric: str) -> float:
        """Sum of driver-side updates to ``metric`` of nodes of ``kinds``
        in the SQL executions the spans' jobs belong to."""
        execs = {self.job_exec[j] for j in self.jobs_for(span_ids) if j in self.job_exec}
        total = 0.0
        for e in execs:
            for acc, val in self.exec_driver_accs.get(e, {}).items():
                k = self.node_of_acc.get(acc)
                if k is not None and k[0] in kinds and k[1] == metric:
                    total += val
        return total

    def first_python_job_s(self) -> float:
        """Run time of the earliest job whose tasks ran a Python UDF."""
        for j in sorted(self.job_time, key=lambda j: self.job_time[j][0]):
            tasks = [t for sid in self.job_stages[j] for t in self.stage_tasks.get(sid, [])]
            if any(self.node_metric(tasks, k, "time to run Python workers") for k in ("text", "decode", "python")):
                start, end = self.job_time[j]
                return (end - start) / 1e3 if end else 0.0
        return 0.0

    def nodes_run(self, tasks: list[dict], kind: str) -> int:
        """Distinct plan nodes of ``kind`` that received task updates."""
        seen = set()
        for t in tasks:
            for acc in t["accs"]:
                k = self.node_of_acc.get(acc)
                if k is not None and k[0] == kind:
                    seen.add(k[2])
        return len(seen)
