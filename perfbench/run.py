"""Benchmark of the production paths: the batch job and the streaming
tick, with the rule re-score measured in the batch job's traced run.

    python3 perfbench/run.py --workload job_mixed --seed 7 --seconds 16 --trace 0

Run from the root of a checkout. One process drives one workload through
the package's public entry points at ``local[<nproc>]``, closed loop, one
operation at a time, for ``--seconds`` seconds after set-up. Inputs come
from ``loadgen`` and the seed only.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every layer call, Spark's event log on, and a
noop probe per lazy layer afterwards, and prints the per-layer metrics.
The last stdout line is the result object; the line before it, starting
with ``perfbench:``, is the full record (host stamp, failure share,
oracle mismatches, tail percentile), also written to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "data_quality_checker_spark")


def tree_pids(pid: int) -> list[int]:
    """``pid`` and every live descendant, from /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def pss_mb(pids: list[int]) -> float:
    """Proportional set size of ``pids``: resident pages, each shared page
    split among its sharers, so forked Python workers are not counted
    once per fork as summed RSS would."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Peak resident memory (PSS) of the driver JVM plus its Python workers."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period, self.peak = pid, period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, pss_mb(tree_pids(self.pid)))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_calibration(threads: int) -> tuple[float, float]:
    """Host-speed stamp: seconds to sort and sum a seeded 4M-float array
    on one thread, then the same on ``threads`` threads at once (numpy
    releases the GIL), as bench.py's cpu_calib_1t/mt do through Spark."""
    import numpy as np

    a = np.random.default_rng(42).random(4_000_000)

    def work():
        float(np.sort(a).sum())

    def timed(n: int) -> float:
        ts = [threading.Thread(target=work) for _ in range(n)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return time.perf_counter() - t0

    timed(1)
    return timed(1), timed(threads)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    it started (the Python worker daemon and workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    pids = tree_pids(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples, the maximum (p100)."""
    n = len(values)
    if n < 20:
        return 100.0, max(values)
    pct = int(100 * (1 - 10 / n))
    return float(pct), statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"perfbench: no package at {PACKAGE_DIR}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # SIGTERM unwinds like an exception: Spark is stopped and the work
    # dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    try:
        return run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, tmp: str) -> int:
    import tempfile

    tempfile.tempdir = tmp
    import workloads
    from tracing import EventLog, Tracer, event_log_file

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    traced = bool(args.trace)

    # ---- load generator (untimed)
    wl = workloads.WORKLOADS[args.workload](work)
    n_clips = wl.generate(args.seed)

    # ---- set-up: session, UDF workers, workload state
    from data_quality_checker_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        # a heap committed up front: peak RSS then tracks the pages the
        # run touches, not when the JVM chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    evdir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evdir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tr = Tracer(spark.sparkContext, traced)
        session_start = time.perf_counter() - t_setup
        tr.instrument()

        with tr.span("setup.stage"):
            wl.stage(spark)
        setup_s = time.perf_counter() - t_setup

        # ---- timed part
        durations: list[float] = []
        clips: list[int] = []
        raised_ops: set[int] = set()
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            deadline = time.perf_counter() + args.seconds
            i = 0
            while time.perf_counter() < deadline and (wl.max_ops is None or i < wl.max_ops):
                tr.op = i
                t0 = time.perf_counter()
                try:
                    with tr.span("op"):
                        n = wl.op(spark, i)
                except Exception as exc:  # noqa: BLE001 - a failed op is counted
                    print(f"perfbench: op {i} failed: {str(exc)[:300]}", file=sys.stderr)
                    raised_ops.add(i)
                    n = 0
                durations.append(time.perf_counter() - t0)
                clips.append(n)
                tr.op = None
                i += 1
        raised = wl.raised  # the timed window's; probes may tick on

        n_findings = wl.probes(spark, tr) if traced else 0
        calib_1t, calib_mt = cpu_calibration(nproc)
        tr.restore()
        registry_mb = workloads.dir_bytes(os.path.join(work, "state", "sha_registry")) / 1e6
    finally:
        stop_spark(spark)

    # ---- correctness (Spark is stopped: pure pandas + pyarrow)
    mismatches = wl.check()
    failed_ops = len(raised_ops | {i for i, bad in enumerate(wl.op_failed) if bad})
    attempts = len(durations) + raised
    tail_pct, tail_s = tail(durations)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "clips_input": n_clips,
        "ops": len(durations),
        "cpu_calib_1t_s": round(calib_1t, 4),
        "cpu_calib_mt_s": round(calib_mt, 4),
        "clips_per_s": sum(clips) / sum(durations),
        "op_p50_s": statistics.median(durations),
        "op_tail_s": tail_s,
        "op_tail_pct": tail_pct,
        "setup_s": setup_s,
        "session_start_s": session_start,
        "peak_rss_mb": rss.peak,
        "out_bytes_per_clip": wl.out_bytes_per_clip(),
        "fail_frac": (raised + failed_ops) / attempts,
        "oracle_mismatch_rows": mismatches,
        "op_durations_s": durations,
    }
    metrics = {
        "clips_per_s": (record["clips_per_s"], "clips/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak, "MB"),
        "out_bytes_per_clip": (record["out_bytes_per_clip"], "B"),
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if traced:
        log = EventLog(event_log_file(evdir))
        metrics = layer_metrics(
            tr, log, wl, durations, n_clips, n_findings, session_start, registry_mb
        )
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["op_p50_s"]
            record["trace_overhead_frac"] = statistics.median(durations) / base - 1
        tr.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        record["per_layer"] = {k: v for k, (v, _u) in metrics.items()}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("perfbench: " + json.dumps({k: v for k, v in record.items() if k != "op_durations_s"}))
    print(
        json.dumps(
            {
                "correct": mismatches == 0,
                "attempted": len(durations),
                "failed": failed_ops,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


SCANS = ("payload_scan", "scan")
FILES_READ = "size of files read"


def layer_metrics(tr, log, wl, durations, n_clips, n_findings, session_start, registry_mb):
    """Per-layer metrics of a traced run.

    ``*.busy_s`` of a lazy layer (sha, text, decode, dedup, rules,
    findings) is the wall time of that layer alone, noop-written once on
    the workload's input. text/decode ``python_s``/``arrow_mb``,
    ``decode.reps_per_clip``, ``job.payload_scans`` and ``spark.*`` are
    Spark task and plan-node counters of the timed ops, per op. job,
    rescore, tick and iqr report span durations (median) and Spark jobs
    per call."""
    from tracing import self_time

    mb = 1e6
    spans = tr.spans
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(root_ids) -> set[int]:
        out, todo = set(), list(root_ids)
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(children.get(sid, []))
        return out

    def named(name, ops_only=False):
        return [s for s in spans if s["name"] == name and (s["op"] is not None or not ops_only)]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def dur(s):
        return s["end"] - s["start"]

    def probe(name):
        ss = named(f"probe.{name}")
        return ss[0] if ss else None

    def probe_s(name):
        s = probe(name)
        return dur(s) if s else 0.0

    def probe_tasks(name):
        s = probe(name)
        return log.tasks_for(subtree([s["id"]])) if s else []

    def scanned_mb(s):
        return log.driver_metric(subtree([s["id"]]), SCANS, FILES_READ) / mb if s else 0.0

    ops = named("op")
    per_op_tasks = [log.tasks_for(subtree([s["id"]])) for s in ops]
    n_ops = max(len(ops), 1)

    def per_op(fn):
        return sum(fn(t) for t in per_op_tasks) / n_ops

    def jobs_per_call(calls):
        if not calls:
            return 0.0
        return sum(len(log.jobs_for(subtree([s["id"]]))) for s in calls) / len(calls)

    def stage_skew(stages):
        worst = 0.0
        for tasks in stages:
            if len(tasks) < 2:
                continue
            runs = [t["run_ms"] for t in tasks]
            worst = max(worst, max(runs) / max(statistics.median(runs), 1.0))
        return worst

    job_spans = named("job", ops_only=True)
    job_tasks = [log.tasks_for(subtree([s["id"]])) for s in job_spans]
    resc = named("rescore.op")
    ticks = named("tick", ops_only=True)
    dedup_probe = probe("dedup")
    m = {
        "session.start_s": (session_start, "s"),
        "session.udf_warmup_s": (log.first_python_job_s(), "s"),
        "sha.busy_s": (probe_s("sha"), "s"),
        "sha.input_mb": (scanned_mb(probe("sha")), "MB"),
        "text.busy_s": (probe_s("text"), "s"),
        "text.python_s": (per_op(lambda t: log.node_metric(t, "text", "time to run Python workers")) / 1e3, "s"),
        "text.arrow_mb": (per_op(lambda t: log.node_metric(t, "text", "data sent to Python workers")) / mb, "MB"),
        "decode.busy_s": (probe_s("decode"), "s"),
        "decode.python_s": (per_op(lambda t: log.node_metric(t, "decode", "time to run Python workers")) / 1e3, "s"),
        "decode.arrow_mb": (per_op(lambda t: log.node_metric(t, "decode", "data sent to Python workers")) / mb, "MB"),
        "decode.reps_per_clip": (
            per_op(lambda t: log.node_metric(t, "decode", "number of output rows"))
            / max(wl.clips_done() / n_ops, 1),
            "rows/clip",
        ),
        "iqr.busy_s": (med([dur(s) for s in named("iqr") if not _in_probe(spans, s)]), "s"),
        "iqr.spark_jobs": (jobs_per_call(named("iqr")), "count"),
        "dedup.busy_s": (probe_s("dedup"), "s"),
        "dedup.shuffle_mb": (sum(t["shuffle_w"] for t in probe_tasks("dedup")) / mb, "MB"),
        "dedup.task_skew": (
            stage_skew(log.stages_for(subtree([dedup_probe["id"]]))) if dedup_probe else 0.0,
            "ratio",
        ),
        "rules.busy_s": (probe_s("rules"), "s"),
        "findings.busy_s": (probe_s("findings"), "s"),
        "findings.rows_per_clip": (n_findings / n_clips, "rows/clip"),
        "job.busy_s": (med([dur(s) for s in job_spans]), "s"),
        "job.self_s": (med([self_time(spans, s) for s in job_spans]), "s"),
        "job.spark_jobs": (jobs_per_call(job_spans), "count"),
        "job.payload_scans": (med([log.nodes_run(t, "payload_scan") for t in job_tasks]), "count"),
        "job.output_mb": (med([sum(x["out_bytes"] for x in t) / mb for t in job_tasks]), "MB"),
        "rescore.busy_s": (med([dur(s) for s in resc]), "s"),
        "rescore.input_mb": (med([scanned_mb(s) for s in resc]), "MB"),
        "rescore.spark_jobs": (jobs_per_call(resc), "count"),
        "tick.busy_s": (med([dur(s) for s in ticks]), "s"),
        "tick.spark_jobs": (jobs_per_call(ticks), "count"),
        "tick.attempts": (len(named("tick")), "count"),
        "tick.failed": (sum(1 for s in named("tick") if s["error"]), "count"),
        "registry.files_max": (getattr(wl, "registry_files_max", 0), "count"),
        "registry.mb": (registry_mb, "MB"),
        "spark.executor_cpu_s": (per_op(lambda t: sum(x["cpu_ns"] for x in t)) / 1e9, "s"),
        "spark.gc_s": (per_op(lambda t: sum(x["gc_ms"] for x in t)) / 1e3, "s"),
        "spark.shuffle_write_mb": (per_op(lambda t: sum(x["shuffle_w"] for x in t)) / mb, "MB"),
        "spark.python_s": (
            per_op(lambda t: sum(log.node_metric(t, k, "time to run Python workers") for k in ("text", "decode", "python")))
            / 1e3,
            "s",
        ),
        "spark.task_failures": (per_op(lambda t: sum(x["failed"] for x in t)), "count"),
        "trace.op_p50_s": (statistics.median(durations), "s"),
        "trace.spans": (len(spans), "count"),
    }
    return m


def _in_probe(spans, s) -> bool:
    while s["parent"] is not None:
        s = spans[s["parent"]]
        if s["name"].startswith("probe."):
            return True
    return s["name"].startswith("probe.")


if __name__ == "__main__":
    sys.exit(main())
